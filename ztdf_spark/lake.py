"""LakeTable — a minimal Iceberg-v2-semantics table format over Parquet.

No Iceberg/Delta jars ship in this environment (SURVEY.md §7), so the six
semantics the north rule needs are implemented from scratch behind this
interface (a real Iceberg catalog slots in when jars are available):

1. **Atomic snapshot commits** — versioned JSON snapshots written
   temp+rename; a reader pins one snapshot for its whole scan.
2. **Copy-on-write MERGE** (``merge_mode='cow'``: upsert + delete,
   latest-wins by a sequence column) that rewrites only the data files
   whose key range overlaps the batch — DIY file pruning from per-file
   min/max key stats, the moral equivalent of Iceberg manifest-entry
   pruning.
3. **Merge-on-read MERGE** (``merge_mode='mor'``, the Iceberg-v2
   equality-delete analog and the CDC-scale default): a batch commit only
   APPENDS delta files (winners + ``_tombstone``-flagged delete rows) —
   merge cost tracks the BATCH size, never the table size. Readers
   reconstruct latest-wins state by (seq, commit-seq) and drop tombstones;
   ``compact()`` folds deltas back into clustered base files so read cost
   stays amortized.
4. **Additive schema evolution** — new nullable columns appended to the
   table schema; old files are read through the evolved schema (missing
   columns → null).
5. **Snapshot lineage / time travel** — every commit records parent,
   operation summary, and the batch id that produced it; ``read(version=k)``
   reads any historical snapshot.
6. **Exactly-once batch fencing** — per-writer-app high-watermark batch id
   in the snapshot; re-delivered ``foreachBatch`` invocations are no-ops
   (the Delta-style idempotent-writer txn pattern).

**Metadata layout (format v3 — Iceberg's manifest-list shape).** A snapshot
no longer embeds the full file list. It holds a MANIFEST LIST: one entry
per immutable manifest file, each entry carrying that manifest's aggregate
stats (file count, rows, delta rows, key range). The manifest file holds
the per-data-file entries. Consequences at 10⁶+ files:

- a MOR merge commit writes ONE new manifest (O(files-added)) and appends
  one line to the manifest list — commit cost no longer rewrites the whole
  file inventory (the round-2 O(#files-total) snapshot JSON, VERDICT r2
  what's-wrong #4);
- ``delta_ratio()`` and row totals are O(#manifests) sums over the
  manifest list — no manifest file is even opened;
- COW merges prune at TWO levels: manifest-list key ranges first (skip
  whole manifests), then per-file ranges inside the surviving manifests;
- the manifest list itself grows one entry per commit; ``compact()`` folds
  it back to a single manifest (and snapshot retention bounds history),
  exactly like Iceberg's rewrite-manifests maintenance.

Format v2 snapshots (inline ``files``) remain readable; new commits always
write v3.

Scale notes (100 TB / 1000 executors): all manifest operations are
driver-side over O(#files-touched) metadata — data never moves through the
driver. A MOR merge is shuffle-free (pure append of pre-conformed rows);
the COW path's only shuffles are (a) the map-side-combined winner-key
dedup of the batch and (b) the range-clustering of rewrite output, both
hash/range-partitioned on the table key; AQE handles skew splitting, and
hot keys are pre-reduced by partial aggregation before the exchange.

Crash safety: data files and manifest files are written before the
snapshot commit; a crash between the two leaves unreferenced orphans
(cleaned by ``vacuum()``), never a corrupt table. Concurrent writers are
excluded by O_EXCL snapshot-file creation (single-writer optimistic
concurrency, like Iceberg's atomic swap); ``compact()`` retries by
REBASING onto the winning snapshot (always safe: compaction is a pure
rewrite of current state).
"""

from __future__ import annotations

import bisect
import json
import os
import re
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ops import latest_wins_join

FORMAT_VERSION = 3

# How long a beyond-cap changes() key-set scratch file survives before the
# next beyond-cap changes() call reclaims it. Must exceed the longest gap
# between a changes() call and its consumer's last materialization of the
# returned (lazy) DataFrame.
CHANGES_SCRATCH_GRACE_S = 3600.0
_SNAP_DIR = "_snapshots"
_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
# internal column marking MOR delete rows (the Iceberg-v2 equality-delete
# analog); present only in delta files, never part of the table schema
_TOMBSTONE = "_tombstone"


class CommitConflict(RuntimeError):
    pass


def _atomic_write(path: str, payload: str, *, exclusive: bool = False) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    if exclusive:
        try:
            os.link(tmp, path)  # atomic fail-if-exists
        except FileExistsError as e:
            os.unlink(tmp)
            raise CommitConflict(f"snapshot already exists: {path}") from e
        os.unlink(tmp)
    else:
        os.replace(tmp, path)


def _file_key_stats(path: str, key_col: str):
    """Per-file (min, max, rows) for the key column from parquet footer
    stats, kept NATIVE-TYPED: a long key must fold with integer comparison
    ('100' < '99' as strings would invert ranges → wrong pruning → stale
    rows surviving a merge). Only JSON-representable orderable types (str /
    int / float) produce ranges; anything else → (None, None) = never prune."""
    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index(key_col)
    lo, hi = None, None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None, md.num_rows  # stats missing → never prune this file
        mn, mx = st.min, st.max
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode(), mx.decode()
            except UnicodeDecodeError:
                return None, None, md.num_rows
        if not isinstance(mn, (str, int, float)) or isinstance(mn, bool):
            return None, None, md.num_rows
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
    return lo, hi, md.num_rows


def _file_col_stats(path: str, cols: list[str]) -> dict:
    """Per-file [min, max] for each named column from parquet footer stats
    (the ``_file_key_stats`` rule generalized to secondary columns): only
    JSON-representable orderable types produce a range; any row group with
    missing stats → None for that column = never prune on it. Min/max
    ignore NULLs (parquet semantics) — sound for range pruning because a
    NULL can never satisfy a BETWEEN predicate."""
    md = pq.ParquetFile(path).metadata
    out: dict = {}
    for col in cols:
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            out[col] = None
            continue
        lo, hi = None, None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            if not isinstance(mn, (str, int, float)) or isinstance(mn, bool):
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        out[col] = [lo, hi] if ok and lo is not None else None
    return out


def _zvalue_column(df: DataFrame, cols: list[str], n_bits: int = 8):
    """Morton (z-order) interleave of quantile-bucket ranks — the Delta
    OPTIMIZE ZORDER BY construction: each column is mapped to a
    2^n_bits-bucket rank via approx-quantile split points (one bounded
    driver-side list per column, never a global sort), then the ranks'
    bits are interleaved so files clustered on the z-value stay tight in
    EVERY dimension at once. Returns (z Column, splits dict). Pure
    Catalyst: the bucket rank is ``size(filter(splits, s -> s <= v))``
    over a literal array; NULLs rank 0 (sound: range predicates can't
    match NULL anyway). Numeric columns only — the z-value orders LAYOUT,
    not results, so approx splits never affect correctness."""
    n_buckets = 1 << n_bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    quantiles = df.stat.approxQuantile(cols, probs, 0.001)
    splits: dict = {}
    buckets = []
    for col, qs in zip(cols, quantiles):
        sp = sorted(set(qs))
        splits[col] = sp
        arr = F.array(*[F.lit(s) for s in sp])
        buckets.append(F.size(F.filter(arr, lambda s: s <= F.col(col).cast("double"))))
    m = len(cols)
    terms = []
    for b in range(n_bits):
        for j, bucket in enumerate(buckets):
            terms.append(
                F.shiftleft(F.shiftright(bucket.cast("long"), b).bitwiseAND(F.lit(1)), b * m + j)
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z, splits


def _entries_stats(entries: list[dict]) -> dict:
    """Aggregate manifest-list stats over per-file entries."""
    lo = hi = None
    rows = delta_rows = 0
    bounded = True
    for e in entries:
        rows += e["rows"]
        if e.get("delta"):
            delta_rows += e["rows"]
        if e["min_key"] is None:
            bounded = False
        elif bounded:
            lo = e["min_key"] if lo is None or e["min_key"] < lo else lo
            hi = e["max_key"] if hi is None or e["max_key"] > hi else hi
    return {
        "n_files": len(entries),
        "rows": rows,
        "delta_rows": delta_rows,
        # None range = at least one unbounded file → this manifest can
        # never be skipped by manifest-level pruning
        "min_key": lo if bounded else None,
        "max_key": hi if bounded else None,
    }


def _keys_touch(keys_sorted: list, lo, hi) -> bool:
    """Does some key of the sorted list fall in [lo, hi]? A range with no
    stats (``lo`` None) is unbounded: always touched, never pruned."""
    if lo is None:
        return True
    i = bisect.bisect_left(keys_sorted, lo)
    return i < len(keys_sorted) and keys_sorted[i] <= hi


def columns_map(snap: dict) -> list[dict]:
    """The snapshot's logical→physical column mapping, identity when the
    table has never been altered (see ``LakeTable`` 'logical column
    mapping'). Module-level so the streaming source/sink (ztdf_spark/
    source.py) shares one definition with the table."""
    cols = snap.get("columns")
    if cols is not None:
        return cols
    return [
        {"logical": f["name"], "physical": f["name"]}
        for f in snap["schema"]["fields"]
    ]


def added_delta_entries(snap: dict, *, read_manifest, get_parent=None):
    """Per-file entries newly ADDED by commit ``snap`` when the commit is a
    pure MOR delta append; ``[]`` for housekeeping commits (create /
    compact — they rewrite or initialize state, they don't change it);
    ``None`` when the commit cannot be attributed as pure change rows (a
    COW merge folds old and new data into its output files).

    Shared change-attribution for the incremental ``changes()`` chain walk
    and the streaming source's ``partitions()`` (ztdf_spark/source.py).

    v3 snapshots: manifest-list entries whose explicit ``added_at`` equals
    the commit version. Legacy (round-3) manifests WITHOUT ``added_at``
    fall back to filename inference, but only when the inference is
    verifiable against the parent snapshot: a round-3-era v2→v3 upgrade
    commit names its CARRY-OVER manifest with the new commit version
    (``_carryover_manifests``' v2 path), so a bare filename match would
    re-emit the table's entire pre-upgrade history as that commit's
    changes (ADVICE r4 #1). The fallback therefore requires the parent to
    be a v3 snapshot (whose manifest list cross-checks carried-over names)
    — a v2-format or unavailable parent refuses inference and returns
    ``None``, degrading to the full winner diff instead of wrong changes.
    v2 snapshots: inline file-list diff against the parent.

    ``get_parent``: zero-arg callable returning the parent snapshot dict,
    or ``None`` if unavailable (expired). Called lazily — only the legacy
    paths above need it, so an expired parent never penalizes a table
    whose manifests all carry explicit ``added_at``.
    """
    summary = snap.get("summary", {})
    if summary.get("operation") in ("create", "compact", "publish", "alter"):
        # publish markers are state-identical to their parent (the branch
        # head); the branch's own commits carry the changes. alter commits
        # (rename/drop/add column) are pure metadata: rows unchanged
        return []
    if summary.get("operation") == "rollback":
        # a rollback's net effect is row REMOVAL (the undone commits), which
        # an added-files feed cannot express; its carried manifests keep
        # their ORIGINAL added_at values, so the v3 walk below would wrongly
        # report "no change" — refuse attribution instead
        return None
    if summary.get("operation") == "merge" and summary.get("mode") != "mor":
        # COW merge: attributable ONLY when the commit recorded a change
        # manifest (table property change_feed=True, the Delta-CDF /
        # Iceberg-changelog analog) — the batch's surviving winners written
        # as side files at merge time, because the rewritten data files
        # fold old and new rows together and cannot be diffed by file set.
        cms = snap.get("change_manifests")
        if cms is None:  # feed was off for this commit → unattributable
            return None
        out: list[dict] = []
        for m in cms:
            out.extend(read_manifest(m["path"]))
        return out if all(e.get("delta") for e in out) else None
    v = snap["version"]
    parent_cache: list = []

    def _parent() -> dict | None:
        if not parent_cache:
            parent_cache.append(get_parent() if get_parent is not None else None)
        return parent_cache[0]

    if "files" in snap:  # format v2
        if snap.get("parent") is None:
            prev: set[str] = set()
        else:
            p = _parent()
            if p is None or "files" not in p:
                return None  # parent expired / unreadable → can't diff
            prev = {f["path"] for f in p["files"]}
        added = [f for f in snap["files"] if f["path"] not in prev]
        return added if all(f.get("delta") for f in added) else None
    out: list[dict] = []
    for m in snap.get("manifests", []):
        if "added_at" in m:
            if m["added_at"] != v:
                continue
        else:
            mm = re.match(r"m-v(\d+)-", m["path"])
            if not mm or int(mm.group(1)) != v:
                continue
            p = _parent()
            if p is None or "files" in p:
                return None  # v2→v3 upgrade layout (or expired parent):
                # the name-matching manifest may be carried-over history
            if any(pm["path"] == m["path"] for pm in p.get("manifests", [])):
                continue  # referenced by the parent → carried over, not added
        out.extend(read_manifest(m["path"]))
    return out if all(e.get("delta") for e in out) else None


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._snap_dir = os.path.join(path, _SNAP_DIR)
        self._refs_dir = os.path.join(path, _SNAP_DIR, "refs")
        self._manifest_dir = os.path.join(path, _MANIFEST_DIR)
        self._data_dir = os.path.join(path, _DATA_DIR)
        # manifests are immutable once written → cache by file name
        self._manifest_cache: dict[str, list[dict]] = {}

    # ------------------------------------------------------------------ meta

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        *,
        key_col: str = "doc_id",
        seq_col: str = "lsn",
        target_file_rows: int = 500_000,
        merge_mode: str = "cow",
        change_feed: bool = False,
        bloom_delta_keys: bool = False,
    ) -> "LakeTable":
        """``change_feed=True`` (COW tables; the Delta ``enableChangeDataFeed``
        / Iceberg changelog analog) makes every COW merge additionally write
        its surviving batch winners as side CHANGE files + a change manifest
        — an O(batch) extra write that lets ``changes()`` keep its pruned
        fast path and the ``ztdf_lake`` streaming source emit per-commit
        rows on COW tables. MOR tables get the feed for free (their delta
        files ARE the change log), so the flag is a no-op there.

        ``bloom_delta_keys=True`` (MOR tables; the Iceberg puffin / Parquet
        bloom analog at the manifest layer) makes every delta append also
        build a per-file key Bloom filter (one narrow extra Spark job over
        the key column of the just-written files) that ``read_keys`` probes
        to SKIP delta files none of the looked-up keys can be in — delta
        files are unclustered, so min/max ranges rarely prune them. No-op
        on COW tables (every file is range-clustered there)."""
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {merge_mode}")
        t = cls(spark, path)
        os.makedirs(t._snap_dir, exist_ok=True)
        os.makedirs(t._manifest_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        if t.current_version() is not None:
            raise CommitConflict(f"table already exists at {path}")
        snap = {
            "format_version": FORMAT_VERSION,
            "version": 0,
            "parent": None,
            "schema": json.loads(schema.json()),
            "key_col": key_col,
            "seq_col": seq_col,
            "target_file_rows": target_file_rows,
            "merge_mode": merge_mode,
            "change_feed": bool(change_feed) and merge_mode == "cow",
            "bloom_delta_keys": bool(bloom_delta_keys) and merge_mode == "mor",
            "manifests": [],
            "last_batch": {},
            "summary": {"operation": "create"},
            "timestamp_ms": int(time.time() * 1000),
        }
        t._commit(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, _SNAP_DIR, "CURRENT"))

    def current_version(self) -> int | None:
        cur = os.path.join(self._snap_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._snap_dir, f"v{v:010d}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Snapshot lineage, newest-last; stops at the retention horizon
        when older snapshots have been expired."""
        v = self.current_version()
        out = []
        while v is not None:
            try:
                s = self.snapshot(v)
            except FileNotFoundError:
                break  # expired beyond the retention window
            out.append(s)
            v = s["parent"]
        return list(reversed(out))

    def schema(self, version: int | None = None) -> T.StructType:
        """The table's LOGICAL schema — what readers see and writers send.
        Identical to the physical schema until a ``rename_column`` /
        ``drop_column`` / ``add_column``; afterwards the snapshot's
        ``columns`` mapping projects stable PHYSICAL file columns to the
        current logical names (Iceberg field-id semantics: rename and drop
        are metadata-only, no file rewrite, and a re-added name can never
        resurrect dropped data)."""
        snap = self.snapshot(version)
        phys = T.StructType.fromJson(snap["schema"])
        return T.StructType(
            [
                T.StructField(c["logical"], phys[c["physical"]].dataType, True)
                for c in self._columns_map(snap)
            ]
        )

    def physical_schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.snapshot(version)["schema"])

    # ------------------------------------------------- logical column mapping
    #
    # PHYSICAL names are frozen at the moment a column first lands in a data
    # file; every file of the table, forever, uses them — so one read schema
    # covers every file and rename/drop/re-add are pure snapshot metadata
    # (the Iceberg field-id trick, with the stable physical NAME playing the
    # field id). The snapshot's optional ``columns`` list
    # [{"logical", "physical"}, ...] (logical order) maps the two layers;
    # absent = identity (every pre-existing table). Dropped columns simply
    # leave the list — their physical fields stay in the file schema (old
    # files still hold the bytes until compact()/vacuum() rewrites them) but
    # no logical column reads them, and re-adding the same logical name
    # allocates a FRESH physical name, so the old values never resurface.

    def _columns_map(self, snap: dict) -> list[dict]:
        return columns_map(snap)

    def _project_logical(self, df: DataFrame, snap: dict, extra: tuple = ()) -> DataFrame:
        """Physical result rows → logical names (+ passthrough extras).
        A pure projection: Catalyst collapses it into the scan, so column
        pruning still reaches parquet."""
        sel = [
            F.col(c["physical"]).alias(c["logical"]) for c in self._columns_map(snap)
        ]
        return df.select(*sel, *[F.col(e) for e in extra])

    def _physicalize_batch(self, snap: dict, df: DataFrame):
        """Incoming batch (logical names) → physical names, allocating fresh
        physical names for NEW logical columns (additive evolution through a
        mapping). Returns ``(renamed_df, columns_after | None)`` —
        ``columns_after`` is None when the snapshot has no mapping and every
        new column is identity (the common case: nothing to persist)."""
        cols = snap.get("columns")
        mapping = self._columns_map(snap)
        l2p = {c["logical"]: c["physical"] for c in mapping}
        taken = {f["name"] for f in snap["schema"]["fields"]}
        taken |= {c["physical"] for c in mapping}
        rename: dict[str, str] = {}
        new_entries: list[dict] = []
        for name in df.columns:
            if name in ("op", _TOMBSTONE, "_cseq"):
                continue
            if name in l2p:
                if l2p[name] != name:
                    rename[name] = l2p[name]
                continue
            # new logical column. Its natural physical name may be taken by
            # a dropped/renamed-away column — allocate a fresh one so old
            # file bytes can never read back through the new logical column
            p, i = name, 2
            while p in taken:
                p, i = f"{name}__{i}", i + 1
            taken.add(p)
            new_entries.append({"logical": name, "physical": p})
            if p != name:
                rename[name] = p
        if rename:
            df = df.withColumnsRenamed(rename)
        if cols is None and all(e["logical"] == e["physical"] for e in new_entries):
            return df, None  # identity stays implicit
        return df, mapping + new_entries

    def _alter(self, mutate, summary_detail: dict, retries: int = 2) -> dict:
        """Commit a metadata-only schema change (operation='alter'): same
        manifests, possibly extended physical schema, updated ``columns``
        mapping. ``mutate(columns, phys_fields)`` edits both in place.
        Optimistic-concurrency like merge: losing the exclusive version
        claim to a racing writer re-reads and re-applies. ``mutate`` also
        receives the snapshot each attempt is based on, so validation
        (e.g. key/seq reservation) checks the SAME base it alters rather
        than re-reading a possibly newer snapshot mid-attempt."""
        for attempt in range(retries + 1):
            snap = self.snapshot()
            columns = [dict(c) for c in self._columns_map(snap)]
            phys_fields = [dict(f) for f in snap["schema"]["fields"]]
            mutate(columns, phys_fields, snap)
            new_snap = {
                "format_version": FORMAT_VERSION,
                "version": self._next_version(),
                "parent": snap["version"],
                "schema": {**snap["schema"], "fields": phys_fields},
                "columns": columns,
                "key_col": snap["key_col"],
                "seq_col": snap["seq_col"],
                "target_file_rows": snap.get("target_file_rows", 500_000),
                "merge_mode": snap.get("merge_mode", "cow"),
                "change_feed": snap.get("change_feed", False),
                "bloom_delta_keys": snap.get("bloom_delta_keys", False),
                "manifests": list(snap["manifests"]) if "manifests" in snap else [],
                "last_batch": dict(snap["last_batch"]),
                "summary": {"operation": "alter", **summary_detail},
                "timestamp_ms": int(time.time() * 1000),
            }
            if "files" in snap:  # v2-format parent: repackage the inline list
                new_snap["manifests"] = (
                    [self._write_manifest(snap["files"], new_snap["version"])]
                    if snap["files"]
                    else []
                )
            try:
                self._commit(new_snap)
                return {"version": new_snap["version"], **new_snap["summary"]}
            except CommitConflict:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only column rename (Iceberg ``RENAME COLUMN``): no file
        is touched; reads at the new snapshot see ``new``, time travel to
        older snapshots still sees ``old``. The key/seq columns may be
        renamed too — incoming merge batches then use the new name."""

        def mutate(columns, phys_fields, snap):
            live = {c["logical"] for c in columns}
            if old not in live:
                raise ValueError(f"no column {old!r} (live columns: {sorted(live)})")
            if new in live and new != old:
                raise ValueError(f"column {new!r} already exists")
            for c in columns:
                if c["logical"] == old:
                    c["logical"] = new

        return self._alter(mutate, {"rename": [old, new]})

    def drop_column(self, name: str) -> dict:
        """Metadata-only column drop. The physical column stays in old files
        (bytes linger until compaction rewrites them — same contract as
        ``delete_where``) but no logical column reads it, and a later
        ``add_column``/merge with the same name gets a FRESH physical
        column, so dropped values never resurface."""

        def mutate(columns, phys_fields, snap):
            entry = next((c for c in columns if c["logical"] == name), None)
            if entry is None:
                raise ValueError(f"no column {name!r}")
            # validate against the snapshot THIS attempt alters (not a fresh
            # self.snapshot() read that could race past it — ADVICE r5)
            for reserved in (snap["key_col"], snap["seq_col"]):
                if entry["physical"] == reserved:
                    raise ValueError(f"cannot drop the key/seq column {name!r}")
            columns.remove(entry)

        return self._alter(mutate, {"drop": name})

    def add_column(self, name: str, dtype) -> dict:
        """Explicit additive evolution (same semantics as a merge batch
        carrying a new column): appends a nullable logical column; existing
        rows read it as null."""
        if isinstance(dtype, str):
            dtype = getattr(T, "_parse_datatype_string")(dtype)

        def mutate(columns, phys_fields, snap):
            if any(c["logical"] == name for c in columns):
                raise ValueError(f"column {name!r} already exists")
            taken = {f["name"] for f in phys_fields} | {c["physical"] for c in columns}
            p, i = name, 2
            while p in taken:
                p, i = f"{name}__{i}", i + 1
            phys_fields.append(
                json.loads(T.StructField(p, dtype, True).json())
            )
            columns.append({"logical": name, "physical": p})

        return self._alter(mutate, {"add": name, "type": dtype.simpleString()})

    def _commit(self, snap: dict, ref: str | None = None) -> None:
        _atomic_write(
            os.path.join(self._snap_dir, f"v{snap['version']:010d}.json"),
            json.dumps(snap, indent=1),
            exclusive=True,
        )
        if ref is None:
            _atomic_write(os.path.join(self._snap_dir, "CURRENT"), str(snap["version"]))
        else:
            self._write_ref(ref, snap["version"], "branch")

    def _next_version(self) -> int:
        """Globally unique next snapshot version: branch heads and CURRENT
        share one number space (version order IS commit order on every
        chain — the read-time ``_cseq`` tie-break and the targeted
        retention arithmetic both rely on it). On a linear main-only table
        this equals ``current + 1`` exactly."""
        vs = [
            int(n[1:-5])
            for n in os.listdir(self._snap_dir)
            if n.startswith("v") and n.endswith(".json")
        ]
        return (max(vs) + 1) if vs else 0

    # ------------------------------------------------------------------ refs

    def _write_ref(self, name: str, version: int, kind: str, *, exclusive: bool = False) -> None:
        os.makedirs(self._refs_dir, exist_ok=True)
        _atomic_write(
            os.path.join(self._refs_dir, name),
            json.dumps({"version": int(version), "kind": kind}),
            exclusive=exclusive,
        )

    def refs(self) -> dict[str, dict]:
        """Named refs (Iceberg branches/tags): ``{name: {version, kind}}``."""
        if not os.path.isdir(self._refs_dir):
            return {}
        out = {}
        for name in sorted(os.listdir(self._refs_dir)):
            with open(os.path.join(self._refs_dir, name)) as f:
                out[name] = json.load(f)
        return out

    def ref_version(self, name: str) -> int:
        try:
            with open(os.path.join(self._refs_dir, name)) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            raise KeyError(f"no ref named {name!r} on table {self.path}")

    def create_tag(self, name: str, version: int | None = None) -> dict:
        """Immutable named pointer to a snapshot (Iceberg tag): pins the
        version against ``expire_snapshots`` retention until deleted."""
        return self._create_ref(name, version, "tag")

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Movable named head (Iceberg branch): ``merge(..., branch=name)``
        commits advance it without touching the main table — the
        write-audit-publish staging pattern. ``publish(name)`` fast-forwards
        the main table onto it."""
        return self._create_ref(name, version, "branch")

    def _create_ref(self, name: str, version: int | None, kind: str) -> dict:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid ref name {name!r}")
        if name in self.refs():
            raise CommitConflict(f"ref {name!r} already exists")
        v = self.current_version() if version is None else version
        self.snapshot(v)  # must resolve (FileNotFoundError if expired)
        # exclusive create (raises CommitConflict): two racing create_* of
        # one name → exactly one wins
        self._write_ref(name, v, kind, exclusive=True)
        return {"name": name, "version": v, "kind": kind}

    def delete_ref(self, name: str) -> None:
        self.ref_version(name)  # KeyError if absent
        os.unlink(os.path.join(self._refs_dir, name))

    def publish(self, branch: str) -> dict:
        """Write-audit-publish: fast-forward the MAIN table onto ``branch``.
        Pure O(1) metadata — the branch's snapshots (and their exactly-once
        batch watermark) become the main chain; refuses (CommitConflict)
        unless the current main head is an ancestor of the branch head, so
        a main-chain commit racing the audit is never silently discarded
        (rebase by re-merging the branch batches onto main, or roll main
        back explicitly, then publish).

        Concurrency: the fast-forward is recorded as a MARKER SNAPSHOT
        (parent = branch head, identical manifests, operation='publish')
        claimed with the same exclusive version-file create every merge
        uses — a bare compare-then-write of CURRENT would silently DISCARD
        a main commit that lands between the ancestry check and the
        pointer write (there is no atomic file CAS to close that window).
        If a racing writer takes the version number first, publish raises
        CommitConflict instead of losing the race loser's commit; a racing
        merge that loses simply rebases onto the published state via its
        normal retry. The marker adds no data (state identical to its
        parent), so change attribution is [] and the streaming source /
        ``changes()`` walk straight through it into the branch commits —
        each branch batch is emitted as its own commit, exactly as if it
        had been merged on main."""
        head = self.ref_version(branch)
        cur = self.current_version()
        # already published (head == cur, or cur descends from head —
        # e.g. the marker of an earlier publish of this same branch)
        v: int | None = cur
        while v is not None and v >= head:
            if v == head:
                return {"published": head, "previous": cur, "noop": True}
            try:
                v = self.snapshot(v)["parent"]
            except FileNotFoundError:
                break
        v = head
        while v != cur:
            if v is None or v < cur:
                raise CommitConflict(
                    f"publish({branch!r}): main v{cur} is not an ancestor of "
                    f"branch head v{head} — not a fast-forward"
                )
            try:
                v = self.snapshot(v)["parent"]
            except FileNotFoundError:
                # expire_snapshots keeps only ref HEADS; a branch whose
                # intermediate snapshots expired cannot prove ancestry —
                # surface the documented conflict, not a raw file error
                raise CommitConflict(
                    f"publish({branch!r}): snapshot v{v} on the branch chain "
                    f"has been expired — ancestry of main v{cur} cannot be "
                    f"verified; re-merge the branch batches onto main instead"
                ) from None
        hs = self.snapshot(head)
        marker = {
            "format_version": FORMAT_VERSION,
            "version": self._next_version(),
            "parent": head,
            "schema": hs["schema"],
            **({"columns": hs["columns"]} if hs.get("columns") is not None else {}),
            "key_col": hs["key_col"],
            "seq_col": hs["seq_col"],
            "target_file_rows": hs.get("target_file_rows", 500_000),
            "merge_mode": hs.get("merge_mode", "cow"),
            "change_feed": hs.get("change_feed", False),
            "bloom_delta_keys": hs.get("bloom_delta_keys", False),
            "manifests": list(hs["manifests"]) if "manifests" in hs else [],
            "last_batch": dict(hs["last_batch"]),
            "summary": {"operation": "publish", "branch": branch, "previous_main": cur},
            "timestamp_ms": int(time.time() * 1000),
        }
        if "files" in hs:  # v2-format branch head: repackage the inline list
            marker["manifests"] = (
                [self._write_manifest(hs["files"], marker["version"])] if hs["files"] else []
            )
        self._commit(marker)  # exclusive create = the conflict gate
        return {
            "published": head,
            "version": marker["version"],
            "previous": cur,
            "noop": False,
        }

    # ------------------------------------------------------- manifest access

    def _read_manifest(self, name: str) -> list[dict]:
        ents = self._manifest_cache.get(name)
        if ents is None:
            with open(os.path.join(self._manifest_dir, name)) as f:
                ents = json.load(f)["entries"]
            self._manifest_cache[name] = ents
        return ents

    def _write_manifest(
        self, entries: list[dict], version: int, *, added_at: int | None = None
    ) -> dict:
        """Write one immutable manifest file; return its manifest-list entry
        (path + aggregate stats). Driver cost: O(len(entries)).

        ``added_at`` records the commit version whose NEW data this manifest
        holds — the explicit change-attribution the streaming source and the
        incremental ``changes()`` walk consume. ``None`` marks housekeeping
        rewrites (carry-over filters, v2 upgrades, compaction output) whose
        contents are OLD data: change consumers must never re-emit them.
        Filename version inference (the round-3 scheme) mis-attributed the
        v2-upgrade carry-over as new data (ADVICE r3 #1)."""
        os.makedirs(self._manifest_dir, exist_ok=True)  # v2-created tables
        name = f"m-v{version:010d}-{uuid.uuid4().hex[:8]}.json"
        _atomic_write(
            os.path.join(self._manifest_dir, name),
            json.dumps({"entries": entries}),
        )
        self._manifest_cache[name] = entries
        return {"path": name, "added_at": added_at, **_entries_stats(entries)}

    def _files(self, snap: dict) -> list[dict]:
        """All per-file entries of a snapshot (v3: via its manifests; v2
        compatibility: inline ``files``)."""
        if "files" in snap:  # format v2
            return snap["files"]
        out: list[dict] = []
        for m in snap["manifests"]:
            out.extend(self._read_manifest(m["path"]))
        return out

    def _totals(self, snap: dict) -> tuple[int, int]:
        """(total_rows, delta_rows) — O(#manifests), no manifest reads."""
        if "files" in snap:  # format v2
            total = sum(f["rows"] for f in snap["files"])
            delta = sum(f["rows"] for f in snap["files"] if f.get("delta"))
            return total, delta
        return (
            sum(m["rows"] for m in snap["manifests"]),
            sum(m["delta_rows"] for m in snap["manifests"]),
        )

    # ------------------------------------------------------------------ read

    def read(self, version: int | None = None, ref: str | None = None) -> DataFrame:
        """Snapshot-pinned scan through the (possibly evolved) schema:
        files written before an additive evolution read the new columns as
        null — Iceberg-style schema projection.

        If the snapshot carries MOR delta files, latest-wins state is
        reconstructed at read time (the Iceberg-v2 merge-on-read contract):
        the winner per key is the row with max (seq, commit-seq) — commit
        sequence (parsed from the ``part-v<version>-`` file name) breaks
        cross-batch seq ties deterministically toward the newer commit —
        and ``_tombstone`` winners (CDC deletes) are dropped. The winner
        join is narrow-key (key, seq, cseq): a HashAggregate with map-side
        partial combine + a hash join back, never a wide-row sort.
        """
        if ref is not None:
            if version is not None:
                raise ValueError("pass version= or ref=, not both")
            version = self.ref_version(ref)
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"])
        files = self._files(snap)
        if not files:
            return self.spark.createDataFrame([], schema).transform(
                lambda d: self._project_logical(d, snap)
            )
        delta = [f for f in files if f.get("delta")]
        base = [f for f in files if not f.get("delta")]
        if delta and base:
            pruned = self._read_delta_pruned(snap, schema, base, delta)
            if pruned is not None:
                return self._project_logical(pruned, snap)
        live = self._winners_df(snap).filter(~F.coalesce(F.col(_TOMBSTONE), F.lit(False)))
        return self._project_logical(live, snap)

    def _read_delta_pruned(self, snap: dict, schema: T.StructType, base: list[dict], delta: list[dict]) -> DataFrame | None:
        """Full-table read whose cost scales with delta size at fixed
        table size (VERDICT r4 next-round #1).

        The plain MOR read reconstructs winners over the WHOLE table
        whenever >=1 delta file exists -- an O(table) narrow-key aggregate
        between compactions even when the deltas touch 0.1% of keys.
        Steady-state shape here, with base rows never shuffled or
        aggregated and the base scanned once wide:

        1. delta winners ``dw`` -- latest-wins over the DELTA FILES ONLY
           (``_winners_df`` on the delta subset; bounded by delta rows <=
           the broadcast cap), broadcast everywhere below;
        2. range-matched base files (driver-side bisect over footer
           stats -- no job) take ONE wide pass with a broadcast LEFT join
           against ``dw``: per row, the delta winner replaces the base row
           iff ``d_seq >= base_seq`` -- correct because in a MOR table
           every live delta file POSTDATES every live base file
           (``compact()`` rewrites ALL base files at its commit version;
           the snapshot's delta files were committed after), so a seq tie
           resolves toward the delta exactly like the (seq, commit-seq)
           read-time order;
        3. unmatched base files pass through with no join at all;
        4. NEW keys (in delta, absent from base) are found with one
           NARROW key-only probe of the matched base files against the
           broadcast delta keys (collected, <= cap) -- driver set-diff,
           no shuffle -- and their ``dw`` rows are unioned in.

        An earlier shape (anti-join + winner agg over delta+matched base)
        scanned the matched base files TWICE; with uniformly-spread delta
        keys every base range matches, making the read ~2x a plain scan
        (measured, BENCH/read_pruned.json). This one-pass resolve
        join is scan-bound regardless of key spread.

        Returns ``None`` (caller falls back to the full reconstruction)
        when delta rows exceed the collectable cap."""
        from .ops import broadcast_key_limit

        key_col, seq_col = snap["key_col"], snap["seq_col"]
        cap = min(200_000, broadcast_key_limit(self.spark))
        if sum(f["rows"] for f in delta) > cap:
            return None
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(_TOMBSTONE, T.BooleanType())]
        )
        delta_paths = [os.path.join(self._data_dir, f["path"]) for f in delta]
        keys = [
            r[0]
            for r in self.spark.read.schema(schema)
            .parquet(*delta_paths)
            .select(key_col)
            .distinct()
            .collect()
        ]
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        keys_sorted = sorted(k for k in keys if k is not None)
        matched_base = [f for f in base if _keys_touch(keys_sorted, f["min_key"], f["max_key"])]
        matched_names = {f["path"] for f in matched_base}
        unmatched_base = [f for f in base if f["path"] not in matched_names]
        key_type = schema[key_col].dataType
        touched = self.spark.createDataFrame(
            pa.table({key_col: pa.array(keys, type=to_arrow_type(key_type))})
        )
        data_cols = [f.name for f in schema.fields]
        all_cols = data_cols + [_TOMBSTONE]
        not_dead = ~F.coalesce(F.col(_TOMBSTONE), F.lit(False))

        # delta-only winners, renamed _d_* for the resolve join
        dw = self._winners_df(snap, delta).select(
            [F.col(c).alias(f"_d_{c}") for c in all_cols]
        )

        parts: list[DataFrame] = []
        found: set = set()
        if matched_base:
            matched_paths = [os.path.join(self._data_dir, f["path"]) for f in matched_base]
            # narrow single-column probe: which delta keys already exist in
            # base? (new keys = delta keys - found, resolved driver-side)
            probe_schema = T.StructType([T.StructField(key_col, key_type)])
            found = {
                r[0]
                for r in self.spark.read.schema(probe_schema)
                .parquet(*matched_paths)
                .join(F.broadcast(touched), key_col, "left_semi")
                .collect()
            }
            take_delta = F.col(f"_d_{key_col}").isNotNull() & (
                F.col(f"_d_{seq_col}") >= F.col(seq_col)
            )
            resolved = (
                self.spark.read.schema(read_schema)
                .parquet(*matched_paths)
                .join(
                    F.broadcast(dw),
                    F.col(key_col) == F.col(f"_d_{key_col}"),
                    "left",
                )
                .select(
                    *[
                        F.when(take_delta, F.col(f"_d_{c}")).otherwise(F.col(c)).alias(c)
                        for c in all_cols
                    ]
                )
                .filter(not_dead)
                .select(*data_cols)
            )
            parts.append(resolved)
        if unmatched_base:
            parts.append(
                self.spark.read.schema(read_schema)
                .parquet(*[os.path.join(self._data_dir, f["path"]) for f in unmatched_base])
                .filter(not_dead)
                .select(*data_cols)
            )
        new_keys = [k for k in keys if k not in found]
        if new_keys:
            nk = self.spark.createDataFrame(
                pa.table({f"_d_{key_col}": pa.array(new_keys, type=to_arrow_type(key_type))})
            )
            parts.append(
                dw.join(F.broadcast(nk), f"_d_{key_col}", "left_semi")
                .filter(~F.coalesce(F.col(f"_d_{_TOMBSTONE}"), F.lit(False)))
                .select(*[F.col(f"_d_{c}").alias(c) for c in data_cols])
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _winners_df(
        self, snap: dict, files: list[dict] | None = None, *, keep_cseq: bool = False,
        keys: list | None = None,
    ) -> DataFrame:
        """Latest-wins rows per key INCLUDING delete-tombstone winners
        (``_tombstone`` column retained). Tombstones must survive until the
        key is overwritten by a newer event — dropping them would let an
        out-of-order stale update resurrect a deleted key (found by the
        MOR/COW/oracle property test).

        ``files``: optional snapshot-file subset — winners are only valid
        for keys ALL of whose rows live in the subset (callers pass a
        key-range-matched superset from ``_matched_files``, e.g. the
        ``changes()`` incremental fast path).

        ``keys``: keep only rows of these keys, filtered at the scan —
        below the winner aggregate, which then sees only their rows."""
        schema = T.StructType.fromJson(snap["schema"])
        if files is None:
            files = self._files(snap)
        key_col, seq_col = snap["key_col"], snap["seq_col"]
        read_schema = T.StructType(list(schema.fields) + [T.StructField(_TOMBSTONE, T.BooleanType())])
        if not files:
            return self.spark.createDataFrame([], read_schema)

        def scan(schema_: T.StructType) -> DataFrame:
            df = self.spark.read.schema(schema_).parquet(
                *[os.path.join(self._data_dir, f["path"]) for f in files]
            )
            return df if keys is None else df.filter(F.col(key_col).isin(list(keys)))

        if not any(f.get("delta") for f in files):
            return scan(read_schema)
        # _cseq: the commit sequence breaking cross-commit seq ties. Normal
        # delta files encode it in the file NAME; minor-compacted files
        # (compact_deltas) PRESERVE each surviving row's original commit
        # sequence in a stored _cseq column — the stored value wins, so
        # folding any subset of delta files can never flip a tie-break.
        read_schema = T.StructType(
            list(read_schema.fields) + [T.StructField("_cseq", T.LongType())]
        )
        raw = scan(read_schema).withColumn(
            "_cseq",
            F.coalesce(
                F.col("_cseq"),
                F.regexp_extract(F.input_file_name(), r"part-v(\d+)-", 1).cast("long"),
            ),
        )
        winners = (
            raw.groupBy(key_col)
            .agg(F.max(F.struct(F.col(seq_col), F.col("_cseq"))).alias("_w"))
            .select(
                F.col(key_col).alias("_wk"),
                F.col(f"_w.{seq_col}").alias("_wseq"),
                F.col("_w._cseq").alias("_wcseq"),
            )
        )
        from .ops import broadcast_key_limit

        # broadcast decision: scanned rows (or the wanted keys) is an UPPER
        # BOUND on distinct keys (the broadcast side is one row per key) —
        # above the limit the join degrades to shuffled-hash. See
        # broadcast_key_limit for the per-executor heap sizing this implies.
        est_rows = sum(f["rows"] for f in files)
        if keys is not None:
            est_rows = min(est_rows, len(keys))
        if est_rows <= broadcast_key_limit(self.spark):
            winners = F.broadcast(winners)
        else:
            winners = winners.hint("shuffle_hash")
        return raw.join(
            winners,
            (F.col(key_col) == F.col("_wk"))
            & (F.col(seq_col) == F.col("_wseq"))
            & (F.col("_cseq") == F.col("_wcseq")),
        ).select(
            *[f.name for f in schema.fields],
            _TOMBSTONE,
            *(["_cseq"] if keep_cseq else []),
        )

    def read_keys(self, keys: list, version: int | None = None) -> DataFrame:
        """Point/multi-key lookup: latest-wins rows for exactly ``keys``,
        tombstones filtered — at O(matched files), not O(table).

        ``read()`` cannot push a key predicate below the MOR winner join
        (the join must see every row of a key to pick its winner), so a
        filter on read() still reconstructs the full table first. This
        path instead prunes at the metadata layer — manifest-list key
        ranges, then per-file ranges, each a driver-side bisect into the
        sorted keys (no Spark job) — and reconstructs winners only over
        the surviving files, with ``key IN keys`` filtering their scan
        below the winner aggregate: exactly the pruning a 100 TB
        point-lookup needs. Correct because a file containing any row of
        key k always covers k in its [min,max] range, so the matched
        subset holds ALL of k's rows, and the winner of k is chosen among
        k's rows alone.
        """
        snap = self.snapshot(version)
        keys_sorted = sorted(k for k in keys if k is not None)
        if "files" in snap:  # v2
            cand = snap["files"]
        else:
            cand = []
            for m in snap["manifests"]:
                if _keys_touch(keys_sorted, m["min_key"], m["max_key"]):
                    cand.extend(self._read_manifest(m["path"]))
        files = [f for f in cand if _keys_touch(keys_sorted, f["min_key"], f["max_key"])]
        if snap.get("bloom_delta_keys"):
            # second pruning level for unclustered delta files: drop any
            # file whose key bloom admits none of the wanted keys (no false
            # negatives → the matched subset still holds ALL rows of every
            # wanted key). Driver cost: one hash per key, one decode per file.
            from . import bloom as _bloom

            files = _bloom.probe_entries(files, keys)
        live = self._winners_df(snap, files, keys=keys_sorted).filter(
            ~F.coalesce(F.col(_TOMBSTONE), F.lit(False))
        )
        return self._project_logical(live, snap)

    def read_range(self, lo, hi, version: int | None = None) -> DataFrame:
        """Key-RANGE scan: latest-wins rows with ``lo <= key <= hi``
        (inclusive, native key ordering), tombstones filtered — at
        O(files intersecting the range), not O(table). The range-predicate
        generalization of ``read_keys``: a dashboard slicing one tenant's
        id band, an export of a key shard, a backfill of a compacted
        region.

        Pruning is pure driver-side metadata: manifest-list key ranges
        first (whole manifests skipped unopened), then per-file footer
        ranges. Correct for the same reason as ``read_keys``: every row of
        a key k lives in files whose [min,max] covers k, so a file set
        covering [lo,hi] holds ALL rows of every key in the range — the
        winner join over it is exact. Files with unbounded stats are
        always scanned (never pruned ≠ never wrong). On a compacted table
        (key-clustered files, tight ranges) this reads ~|range| bytes;
        between compactions, minor-compacted delta files are clustered too,
        so the unprunable set is just the latest raw deltas."""
        snap = self.snapshot(version)
        if hi < lo:
            raise ValueError(f"empty range: hi {hi!r} < lo {lo!r}")
        key_col = snap["key_col"]
        files = []
        if "files" in snap:  # v2
            cand = snap["files"]
        else:
            cand = []
            for m in snap["manifests"]:
                if m["min_key"] is None or not (m["max_key"] < lo or m["min_key"] > hi):
                    cand.extend(self._read_manifest(m["path"]))
        files = [
            f
            for f in cand
            if f["min_key"] is None or not (f["max_key"] < lo or f["min_key"] > hi)
        ]
        live = self._winners_df(snap, files).filter(
            ~F.coalesce(F.col(_TOMBSTONE), F.lit(False))
        )
        return self._project_logical(
            live.filter((F.col(key_col) >= F.lit(lo)) & (F.col(key_col) <= F.lit(hi))),
            snap,
        )

    def _prune_files_by_col(self, snap: dict, col: str, lo, hi) -> tuple[list[dict], int, bool]:
        """(surviving files, total files, pruned?) for a secondary-column
        range scan. Secondary pruning is ONLY sound on a delta-free
        snapshot: base files hold exactly one row per key (they come from a
        compaction's winner rewrite), so dropping a base file whose
        [min,max] misses the range can never hide a key's winner from the
        latest-wins join — there IS no join. With any delta file present, a
        key's winner may live in a pruned file while a STALE row for the
        same key survives in an unpruned one and wrongly wins — so the scan
        falls back to the full latest-wins read (pruned=False). Files
        without recorded stats for ``col`` are always kept (never pruned ≠
        never wrong)."""
        files = self._files(snap)
        if any(f.get("delta") for f in files):
            return files, len(files), False
        kept = []
        for f in files:
            r = (f.get("cols") or {}).get(col)
            if r is None or not (r[1] < lo or r[0] > hi):
                kept.append(f)
        return kept, len(files), True

    def read_where(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """Range scan on a SECONDARY column (inclusive bounds): latest-wins
        rows with ``lo <= col <= hi``, tombstones filtered. On a delta-free
        snapshot whose files carry per-file stats for ``col`` (a
        ``compact(zorder_by=[col, ...])`` layout), files are pruned
        driver-side by those ranges before the scan — the multi-dimensional
        complement of ``read_range``'s key pruning. On any other snapshot
        the same call is a full latest-wins read + filter: identical
        results, no pruning (soundness argument in
        ``_prune_files_by_col``) — clustering is a layout property that
        ingest deltas degrade until the next compaction, exactly the
        Delta/Iceberg OPTIMIZE contract."""
        snap = self.snapshot(version)
        if hi < lo:
            raise ValueError(f"empty range: hi {hi!r} < lo {lo!r}")
        files, _total, _pruned = self._prune_files_by_col(snap, col, lo, hi)
        live = self._winners_df(snap, files).filter(
            ~F.coalesce(F.col(_TOMBSTONE), F.lit(False))
        )
        return self._project_logical(
            live.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))), snap
        )

    def scan_stats(self, col: str, lo, hi, version: int | None = None) -> dict:
        """Driver-side pruning report for a ``read_where`` scan — what a
        query planner (or a bench) wants to know without running the scan:
        how many files the snapshot has, how many survive the
        secondary-column range pruning, and whether pruning applied at
        all."""
        snap = self.snapshot(version)
        files, total, pruned = self._prune_files_by_col(snap, col, lo, hi)
        return {
            "files_total": total,
            "files_read": len(files),
            "rows_scanned": sum(f["rows"] for f in files),
            "pruned": pruned,
        }

    def _interval_delta_entries(self, from_version: int, to_version: int) -> list[dict] | None:
        """Delta-file entries added by each CHANGE commit in
        ``(from, to]`` — per-commit attribution over the snapshot chain
        (housekeeping commits contribute nothing). ``None`` = attribution
        impossible (an expired intermediate snapshot, or a non-delta change
        commit such as a COW merge) → callers fall back to the full winner
        diff. Driver cost: O(#commits) small JSON reads."""
        chain: list[dict] = []
        v: int | None = to_version
        while v != from_version:
            # versions are allocated globally (branches share the number
            # space), so the MAIN chain may skip numbers — walk PARENT
            # POINTERS, never the numeric range, or a branch commit landing
            # between two main commits would be mis-attributed into the
            # interval. Version monotonically decreases along any chain.
            if v is None or v < from_version:
                return None  # from_version is not an ancestor of to_version
            try:
                chain.append(self.snapshot(v))
            except FileNotFoundError:
                return None
            v = chain[-1]["parent"]
        out: list[dict] = []
        for s in reversed(chain):
            def get_parent(s=s):
                if s.get("parent") is None:
                    return None
                try:
                    return self.snapshot(s["parent"])
                except FileNotFoundError:
                    return None

            added = added_delta_entries(s, read_manifest=self._read_manifest, get_parent=get_parent)
            if added is None:
                return None
            out.extend(added)
        return out

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental change feed between two snapshots — the CDC *output*
        side of the engine (Iceberg changelog-scan / Delta CDF analog): NET
        row-level changes as ``to``-snapshot post-image rows plus a
        ``_change_type`` column in {'insert','update','delete'}.

        Net semantics: a key whose latest-wins winner differs between the
        snapshots yields exactly one row — 'insert' if live at ``to`` but
        absent/deleted at ``from``; 'update' if live at both with a
        different winning seq; 'delete' if live at ``from`` but deleted (or
        compacted away) at ``to``. MOR tombstone winners carry the delete
        event's own columns, so 'delete' rows keep that event's seq.
        Intermediate churn inside the interval collapses, like Iceberg's
        net changelog. Identical winners emit nothing.

        Scale: when every CHANGE commit in ``(from, to]`` is a MOR delta
        append (the steady-state ingest regime), the changed-key set is
        bounded by the keys in the delta files those commits added — both
        winner reconstructions are then key-range-pruned (two-level
        ``_matched_files``) and semi-joined to the touched keys, so cost is
        O(changed keys ∪ matched files), NOT O(table). The attribution is
        per-commit (``added_delta_entries`` over the snapshot chain), so
        interleaved housekeeping — a ``compact()`` landing inside the
        interval — does NOT defeat the fast path: compaction commits
        contribute no changed keys and their rewritten base files are
        simply part of the ``to`` snapshot the pruned winner join reads
        (round-3 fell back to the full O(table) diff here, VERDICT r3
        next-round #4). Only a genuinely non-delta change commit (COW
        merge) or an expired intermediate snapshot falls back to the full
        winner diff. An interval containing ONLY housekeeping returns
        empty without touching data at all.
        """
        snap_to = self.snapshot(to_version)
        snap_from = self.snapshot(from_version)
        if snap_from["version"] > snap_to["version"]:
            raise ValueError(
                f"from_version {snap_from['version']} is newer than to_version {snap_to['version']}"
            )
        key_col, seq_col = snap_to["key_col"], snap_to["seq_col"]
        schema = T.StructType.fromJson(snap_to["schema"])
        data_cols = [f.name for f in schema.fields]
        out_schema = T.StructType(  # LOGICAL names of the `to` snapshot
            list(self.schema(snap_to["version"]).fields)
            + [T.StructField("_change_type", T.StringType())]
        )
        if snap_from["version"] == snap_to["version"]:
            return self.spark.createDataFrame([], out_schema)
        interval = self._interval_delta_entries(snap_from["version"], snap_to["version"])
        if interval == []:
            # only create/compact commits in the interval: state unchanged
            return self.spark.createDataFrame([], out_schema)

        if interval is not None:
            from .ops import broadcast_key_limit

            touched = (
                self.spark.read.schema(schema)
                .parquet(*[os.path.join(self._data_dir, f["path"]) for f in interval])
                .select(key_col)
                .distinct()
            )
            # Materialize the touched-key set WITHOUT leaving cached blocks
            # behind (the round-3 persist leaked across calls, ADVICE r3
            # #4): small key sets collect once into a local relation that
            # the two pruning passes and both semi-joins reuse from the
            # driver (broadcast); beyond the cap the distinct is written
            # ONCE to a scratch parquet that every consumer rescans as a
            # tiny columnar file — the round-4 shape unpersisted before
            # the consumers ran, re-running the distinct shuffle over all
            # interval delta files up to ~5× (ADVICE r4 #5). Scratch
            # lifecycle (ADVICE r5 #3): each changes() call sweeps
            # changes-keys-* dirs older than CHANGES_SCRATCH_GRACE_S, so
            # files no longer accumulate unbounded between vacuums.
            # HAZARD (documented contract): the returned DataFrame is lazy
            # and rescans its scratch file — a consumer that first
            # materializes it more than the grace window (this sweep's
            # 3600 s, or a concurrent vacuum()'s orphan_grace_s, default
            # 600 s) after the changes() call can fail mid-query on the
            # reclaimed file. Materialize promptly, or raise the graces.
            cap = min(200_000, broadcast_key_limit(self.spark))
            n_delta_rows = sum(f["rows"] for f in interval)
            key_rows = None
            if n_delta_rows <= cap:
                key_rows = touched.collect()
            else:
                self._sweep_changes_scratch()
                tmp = os.path.join(self.path, "_staging", f"changes-keys-{uuid.uuid4().hex}")
                tp = touched.persist()
                try:
                    if tp.count() <= cap:
                        key_rows = tp.collect()
                    else:
                        tp.write.mode("overwrite").parquet(tmp)  # from cache
                finally:
                    tp.unpersist()
                if key_rows is None:
                    touched = self.spark.read.parquet(tmp)
            if key_rows is not None:
                # arrow-table local relation → a true LocalTableScan in the
                # plan (tuple input would round-trip through a Python RDD)
                import pyarrow as pa
                from pyspark.sql.pandas.types import to_arrow_type

                touched = self.spark.createDataFrame(
                    pa.table({
                        key_col: pa.array(
                            [r[0] for r in key_rows],
                            type=to_arrow_type(schema[key_col].dataType),
                        )
                    })
                )
                probe = F.broadcast(touched)
            else:
                probe = touched
            w_from = self._winners_df(
                snap_from, self._matched_files(snap_from, touched, key_col)
            ).join(probe, key_col, "left_semi")
            w_to = self._winners_df(
                snap_to, self._matched_files(snap_to, touched, key_col)
            ).join(probe, key_col, "left_semi")
        else:
            from_paths = {f["path"] for f in self._files(snap_from)}
            to_paths = {f["path"] for f in self._files(snap_to)}
            # identical file sets ⇒ identical state; anything else (files
            # added, OR ONLY REMOVED — a rollback interval shrinks the set
            # without adding a single file) needs the real winner diff
            if from_paths == to_paths:
                return self.spark.createDataFrame([], out_schema)
            w_from = self._winners_df(snap_from)
            w_to = self._winners_df(snap_to)

        f_side = w_from.select(
            F.col(key_col).alias("_ck"),
            F.col(seq_col).alias("_fseq"),
            F.coalesce(F.col(_TOMBSTONE), F.lit(False)).alias("_fdead"),
            F.lit(True).alias("_fhas"),
        )
        t_side = w_to.select(
            *data_cols,
            F.coalesce(F.col(_TOMBSTONE), F.lit(False)).alias("_tdead"),
            F.lit(True).alias("_thas"),
        )
        j = t_side.join(f_side, F.col(key_col) == F.col("_ck"), "full_outer")
        t_live = F.coalesce(F.col("_thas"), F.lit(False)) & ~F.coalesce(
            F.col("_tdead"), F.lit(False)
        )
        f_live = F.coalesce(F.col("_fhas"), F.lit(False)) & ~F.coalesce(
            F.col("_fdead"), F.lit(False)
        )
        ctype = (
            F.when(t_live & ~f_live, F.lit("insert"))
            .when(t_live & f_live & (F.col(seq_col) != F.col("_fseq")), F.lit("update"))
            .when(~t_live & f_live, F.lit("delete"))
        )
        return self._project_logical(
            j.withColumn("_change_type", ctype)
            .filter(F.col("_change_type").isNotNull())
            .withColumn(key_col, F.coalesce(F.col(key_col), F.col("_ck")))
            .select(*data_cols, "_change_type"),
            snap_to,
            extra=("_change_type",),
        )

    # ----------------------------------------------------------------- merge

    # safe read-time widenings: Spark 4's parquet reader upcasts the
    # narrow physical type through the wide read schema (verified int32→
    # bigint and float→double), so widening is PURE metadata — no file
    # rewrite, old files stay readable (the Iceberg type-promotion set)
    _WIDEN = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }

    def _evolve_schema(self, snap: dict, batch_schema: T.StructType) -> T.StructType:
        """Schema evolution at the metadata layer (north rule: 'handles
        additive schema evolution (new attribute/assertion columns)'):

        - ADDITIVE: batch columns absent from the table schema are appended
          as nullable fields; old files read them as null.
        - WIDENING: a batch column whose type is a safe numeric promotion
          of the table's (int→long, float→double, ...) widens the TABLE
          type; old narrow files read through the widened schema without
          rewrite. A batch NARROWER than the table needs no action — its
          new files also read through the wider schema.

        Anything else (incompatible type change, drop, rename) is not
        evolution and surfaces as a read/merge analysis error."""
        table = T.StructType.fromJson(snap["schema"])
        batch_types = {f.name: f.dataType for f in batch_schema.fields}
        fields = []
        for f in table.fields:
            bt = batch_types.get(f.name)
            if (
                bt is not None
                and (f.dataType.typeName(), bt.typeName()) in self._WIDEN
            ):
                fields.append(T.StructField(f.name, bt, True))
            else:
                fields.append(f)
        have = {f.name for f in table.fields}
        fields += [
            T.StructField(f.name, f.dataType, True)
            for f in batch_schema.fields
            if f.name not in have and f.name not in ("op", _TOMBSTONE, "_cseq")
        ]
        return T.StructType(fields)

    def _matched_files(self, snap: dict, batch_keys: DataFrame, key_col: str) -> list[dict]:
        """Prune: keep only data files whose [min,max] key range contains at
        least one batch key. TWO-LEVEL (Iceberg shape): manifest-list key
        ranges are checked first driver-side so whole manifests are skipped
        without opening them; surviving manifests' file entries then range-
        join against the batch's distinct keys."""
        files: list[dict] = []
        if "files" in snap:  # v2
            files = snap["files"]
        else:
            lo_hi = None
            for m in snap["manifests"]:
                files_m_unbounded = m["min_key"] is None
                if files_m_unbounded:
                    files.extend(self._read_manifest(m["path"]))
                else:
                    if lo_hi is None:
                        # one narrow agg over batch keys: its [min,max]
                        # cheaply rejects manifests with disjoint ranges
                        r = batch_keys.agg(
                            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
                        ).collect()[0]
                        lo_hi = (r["lo"], r["hi"])
                    if lo_hi[0] is None or not (m["max_key"] < lo_hi[0] or m["min_key"] > lo_hi[1]):
                        files.extend(self._read_manifest(m["path"]))
        if not files:
            return []
        unprunable = [f for f in files if f["min_key"] is None]
        ranged = [f for f in files if f["min_key"] is not None]
        matched = list(unprunable)
        if ranged:
            # ranges carry the key's ACTUAL type so the range join compares
            # natively (string ranges for string keys, numeric for numeric)
            key_type = T.StructType.fromJson(snap["schema"])[key_col].dataType
            ranges = self.spark.createDataFrame(
                [(f["path"], f["min_key"], f["max_key"]) for f in ranged],
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("min_key", key_type),
                        T.StructField("max_key", key_type),
                    ]
                ),
            )
            hit = (
                batch_keys.alias("b")
                .join(
                    F.broadcast(ranges).alias("r"),
                    (F.col(f"b.{key_col}") >= F.col("r.min_key"))
                    & (F.col(f"b.{key_col}") <= F.col("r.max_key")),
                )
                .select("r.path")
                .distinct()
            )
            hit_paths = {r["path"] for r in hit.collect()}
            matched += [f for f in ranged if f["path"] in hit_paths]
        return matched

    def _write_files(
        self,
        df: DataFrame,
        version: int,
        key_col: str,
        target_rows: int,
        n_rows: int,
        *,
        cluster: bool = True,
        delta: bool = False,
        zorder_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
    ) -> list[dict]:
        """Write parquet data files; return per-file manifest entries.

        ``cluster=True`` range-partitions on the key so files stay
        key-clustered (tight min/max ranges → COW pruning works); the output
        partition count is the max of (rows/target) and the cluster
        parallelism floor — a rewrite must never serialize onto fewer cores
        than the cluster has just because the target file size is large
        (parquet encode is CPU-bound; one-file-per-task would cap the write
        at #files tasks). ``cluster=False`` (MOR delta appends) writes the
        DataFrame as-is: NO shuffle at all — the wide encrypted rows go
        scan → write, and read-time dedup doesn't need clustering.

        ``zorder_by``: cluster on the Morton interleave of the named
        NUMERIC columns instead of the key — files become tight in every
        named dimension at once, so ``read_where`` range scans on
        secondary columns prune at the file level (the key-range manifest
        pruning is given up for that rewrite: multi-dim locality and
        1-dim key locality are exclusive layouts). Costs one extra pass
        (approx-quantile split points) over the rewrite input."""
        staged = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        if cluster:
            parallel_floor = min(
                4 * self.spark.sparkContext.defaultParallelism, max(1, n_rows // 100_000)
            )
            n_files = max(1, -(-n_rows // target_rows), parallel_floor) if n_rows else 1
            if zorder_by:
                z, _ = _zvalue_column(df, zorder_by)
                df = (
                    df.withColumn("_zv", z)
                    .repartitionByRange(n_files, F.col("_zv"))
                    .sortWithinPartitions("_zv")
                    .drop("_zv")
                )
            else:
                df = df.repartitionByRange(n_files, F.col(key_col))
        df.write.mode("overwrite").parquet(staged)
        entries = self._adopt_staged(
            staged, version, key_col, delta=delta,
            stat_cols=list(zorder_by or stat_cols or ()),
        )
        import shutil

        shutil.rmtree(staged, ignore_errors=True)
        return entries

    def _adopt_staged(
        self,
        staged: str,
        version: int,
        key_col: str,
        *,
        delta: bool,
        stat_cols: list[str] | None = None,
    ) -> list[dict]:
        """Move staged parquet files into the data dir + collect footer key
        stats (driver-side, O(#files-added) metadata). ``stat_cols``:
        additionally record per-file [min, max] for these secondary
        columns (``cols`` manifest field) — the ``read_where`` pruning
        metadata a z-order rewrite produces."""
        entries = []
        i = 0
        for name in sorted(os.listdir(staged)):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(staged, name)
            dst_name = f"part-v{version:010d}-{i:05d}-{uuid.uuid4().hex[:8]}.parquet"
            os.replace(src, os.path.join(self._data_dir, dst_name))
            lo, hi, rows = _file_key_stats(os.path.join(self._data_dir, dst_name), key_col)
            if rows == 0:
                os.unlink(os.path.join(self._data_dir, dst_name))
                continue
            entry = {"path": dst_name, "rows": rows, "min_key": lo, "max_key": hi}
            if stat_cols:
                entry["cols"] = _file_col_stats(
                    os.path.join(self._data_dir, dst_name), stat_cols
                )
            if delta:
                entry["delta"] = True
            entries.append(entry)
            i += 1
        return entries

    def is_committed(self, batch_id: int, app_id: str = "default") -> bool:
        """True iff ``batch_id`` is at or below the committed high-watermark
        for ``app_id`` (exactly-once fence; callers may skip re-doing work)."""
        return batch_id <= self.snapshot()["last_batch"].get(app_id, -1)

    def _fence(self, snap: dict, batch_id: int | None, app_id: str) -> dict | None:
        if batch_id is not None and batch_id <= snap["last_batch"].get(app_id, -1):
            return {
                "version": snap["version"],
                "noop": True,
                "reason": f"batch {batch_id} already committed (watermark {snap['last_batch'][app_id]})",
            }
        return None

    def _commit_manifests(
        self,
        snap: dict,
        schema: T.StructType,
        manifests: list[dict],
        *,
        batch_id: int | None,
        app_id: str,
        summary: dict,
        change_manifests: list[dict] | None = None,
        ref: str | None = None,
        new_version: int | None = None,
        columns: list[dict] | None = None,
    ) -> dict:
        if new_version is None:
            new_version = snap["version"] + 1
        last_batch = dict(snap["last_batch"])
        if batch_id is not None:
            last_batch[app_id] = batch_id
        if columns is None:
            columns = snap.get("columns")  # carry the mapping forward
        new_snap = {
            "format_version": FORMAT_VERSION,
            "version": new_version,
            "parent": snap["version"],
            "schema": json.loads(schema.json()),
            "key_col": snap["key_col"],
            "seq_col": snap["seq_col"],
            "target_file_rows": snap.get("target_file_rows", 500_000),
            "merge_mode": snap.get("merge_mode", "cow"),
            "change_feed": snap.get("change_feed", False),
            "bloom_delta_keys": snap.get("bloom_delta_keys", False),
            "manifests": manifests,
            "last_batch": last_batch,
            **({"columns": columns} if columns is not None else {}),
            "summary": {"batch_id": batch_id, "app_id": app_id, **summary},
            "timestamp_ms": int(time.time() * 1000),
        }
        if change_manifests is not None:
            # this COMMIT's change attribution only — never carried forward;
            # readers find it on the snapshot that produced the change.
            # Present-but-empty is meaningful: feed was ON and the commit
            # changed nothing (all batch rows shadowed by newer state)
            new_snap["change_manifests"] = change_manifests
        self._commit(new_snap, ref=ref)
        return {"version": new_version, "noop": False, **new_snap["summary"]}

    def _carryover_manifests(self, snap: dict, removed_paths: set[str]) -> list[dict]:
        """Manifest-list carry-over after a COW rewrite: manifests with no
        removed files pass through UNTOUCHED (no read, no rewrite); touched
        manifests are filtered and rewritten (Iceberg's manifest rewrite on
        delete). v2 snapshots: the inline list is filtered and becomes one
        fresh manifest."""
        if "files" in snap:  # v2 upgrade path
            kept = [f for f in snap["files"] if f["path"] not in removed_paths]
            # added_at=None: OLD data repackaged, not changes of this commit
            return [self._write_manifest(kept, snap["version"] + 1)] if kept else []
        if not removed_paths:
            return list(snap["manifests"])  # pure append: no manifest even opened
        out = []
        for m in snap["manifests"]:
            entries = self._read_manifest(m["path"])
            if all(e["path"] not in removed_paths for e in entries):
                out.append(m)
                continue
            kept = [e for e in entries if e["path"] not in removed_paths]
            if kept:
                out.append(self._write_manifest(kept, snap["version"] + 1))
        return out

    def merge(
        self,
        changes: DataFrame,
        *,
        batch_id: int | None = None,
        app_id: str = "default",
        extra_summary: dict | None = None,
        retries: int = 2,
        branch: str | None = None,
    ) -> dict:
        """Public MERGE entry — ``_merge_once`` plus optimistic-concurrency
        retry: losing the atomic snapshot swap to a racing writer (e.g. a
        concurrent ``compact()``) re-runs the merge from a fresh snapshot.
        Safe to re-run: data files are staged under the NEW target version
        each attempt and the exactly-once fence is re-checked, so a retry
        can never double-apply a batch; orphans from a lost attempt are
        ``vacuum()`` fodder, never visible."""
        for attempt in range(retries + 1):
            try:
                return self._merge_once(
                    changes, batch_id=batch_id, app_id=app_id,
                    extra_summary=extra_summary, branch=branch,
                )
            except CommitConflict:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def _merge_once(
        self,
        changes: DataFrame,
        *,
        batch_id: int | None = None,
        app_id: str = "default",
        extra_summary: dict | None = None,
        branch: str | None = None,
    ) -> dict:
        """Latest-wins MERGE of a CDC batch (columns: ``op`` I/U/D + key +
        seq + payload columns) into the table.

        ``merge_mode='cow'`` (table property): only key-range-matched files
        are rewritten; unmatched files carry over untouched.
        ``merge_mode='mor'``: pure delta append — change rows land as new
        delta files with deletes as ``_tombstone`` rows; NOTHING existing is
        read or rewritten, so merge cost is O(batch) regardless of table
        size. Latest-wins (including within-batch duplicates) is resolved at
        read time by (seq, commit-seq); ``compact()`` folds deltas down.

        Intra-batch (key, seq) duplicates — an at-least-once source
        re-delivering the same event INSIDE one micro-batch — are collapsed
        here with ``dropDuplicates([key, seq])``: read-time latest-wins
        ties on (key, seq, commit-seq) for exact duplicates in one commit
        and would emit the row twice. (``commit_staged`` is the documented
        fast path and requires the caller to guarantee (key, seq)
        uniqueness — the pipeline's binlog contract.)

        Exactly-once: if ``batch_id`` ≤ the committed high-watermark for
        ``app_id``, the call is a recorded no-op (idempotent re-delivery,
        north rule 'exactly-once sink'; the Spark analog of NiFi's atomic
        session commit, SURVEY.md §3.1 step 6).
        """
        if branch is not None:
            # write-audit-publish staging: commit onto the named branch's
            # chain; the main table (CURRENT) is untouched until publish()
            if self.refs().get(branch, {}).get("kind") != "branch":
                raise ValueError(f"no branch named {branch!r} (tags are immutable)")
            snap = self.snapshot(self.ref_version(branch))
            nv = self._next_version()  # global number space, see _next_version
        else:
            snap = self.snapshot()
            # _next_version() == current+1 on a linear table; with branches
            # in the number space it skips their versions so a staged file
            # name can never collide with a branch commit's
            nv = self._next_version()
        key_col, seq_col = snap["key_col"], snap["seq_col"]
        target_rows = snap.get("target_file_rows", 500_000)

        fenced = self._fence(snap, batch_id, app_id)
        if fenced:
            return fenced

        # batch arrives with LOGICAL names; files are written with stable
        # PHYSICAL names (new logical columns allocate fresh physical ones)
        changes, columns_after = self._physicalize_batch(snap, changes)
        schema = self._evolve_schema(snap, changes.schema)
        data_cols = [f.name for f in schema.fields]
        changes = changes.dropDuplicates([key_col, seq_col])

        if snap.get("merge_mode", "cow") == "mor":
            from pyspark.sql import Observation

            conformed = changes
            for f in schema.fields:
                if f.name not in conformed.columns:
                    conformed = conformed.withColumn(f.name, F.lit(None).cast(f.dataType))
            to_write = conformed.withColumn(_TOMBSTONE, F.col("op") == "D").select(
                *data_cols, _TOMBSTONE
            )
            obs = Observation(f"mor-merge-{batch_id}")
            to_write = to_write.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col(_TOMBSTONE), 1).otherwise(0)).alias("d"),
            )
            new_entries = self._write_files(
                to_write, nv, key_col, target_rows, 0,
                cluster=False, delta=True,
            )
            if snap.get("bloom_delta_keys") and new_entries:
                from . import bloom as _bloom

                new_entries = _bloom.attach_blooms(
                    self.spark, self._data_dir, new_entries, key_col
                )
            counts = obs.get
            n_batch, n_del = int(counts["n"] or 0), int(counts["d"] or 0)
            if n_batch == 0:
                return {"version": snap["version"], "noop": True, "reason": "empty batch"}
            manifests = self._carryover_manifests(snap, set()) + [
                self._write_manifest(new_entries, nv, added_at=nv)
            ]
            total_before, _ = self._totals(snap)
            return self._commit_manifests(
                snap,
                schema,
                manifests,
                batch_id=batch_id,
                app_id=app_id,
                ref=branch,
                new_version=nv,
                columns=columns_after,
                summary={
                    "operation": "merge",
                    "mode": "mor",
                    "n_batch": n_batch,
                    "n_deletes": n_del,
                    "n_upserts": n_batch - n_del,
                    "files_rewritten": 0,
                    "files_added": len(new_entries),
                    "total_rows": total_before + n_batch,
                    **(extra_summary or {}),
                },
            )

        # 1. narrow per-key change summary: winning op per key, column-pruned
        #    to (key, op, seq) — feeds stats AND file pruning without ever
        #    shuffling the wide payload columns. Map-side partial max_by
        #    pre-reduces hot keys before the exchange.
        key_ops = (
            changes.select(key_col, "op", seq_col)
            .groupBy(key_col)
            .agg(F.max_by("op", F.col(seq_col)).alias("op"))
            .persist()
        )
        try:
            counts = key_ops.agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("d"),
            ).collect()[0]
            n_batch, n_del = int(counts["n"]), int(counts["d"] or 0)
            if n_batch == 0:
                return {"version": snap["version"], "noop": True, "reason": "empty batch"}

            # 2. prune: which data files does this batch touch?
            matched = self._matched_files(snap, key_ops.select(key_col), key_col)
            matched_names = {f["path"] for f in matched}

            # 3. copy-on-write rewrite with NO wide-row aggregation or sort:
            #    batch winners via narrow hash-agg + join-back, then two
            #    anti-joins on narrow (key, seq) sets decide survivorship.
            #    Wide rows flow scan → (broadcast) join → range-clustered
            #    write; they are only ever shuffled once, for file clustering.
            conformed = changes
            for f in schema.fields:  # conform batch to evolved schema
                if f.name not in conformed.columns:
                    conformed = conformed.withColumn(f.name, F.lit(None).cast(f.dataType))
            conformed = conformed.select("op", *data_cols)

            # within-batch latest-wins ((key,seq) unique after the intra-
            # batch dedup above). Narrow (key, seq) sets broadcast up to the
            # broadcast_key_limit (see ops.py for heap sizing) — beyond
            # that, shuffled HASH joins (never sort-merge: sorting the
            # full-width rows is the cost this design eliminates).
            from .ops import broadcast_key_limit

            key_limit = broadcast_key_limit(self.spark)
            bcast_batch = n_batch <= key_limit
            bw = latest_wins_join(conformed, key=key_col, seq=seq_col, broadcast_keys=bcast_batch)
            bk = bw.select(F.col(key_col).alias("_bk"), F.col(seq_col).alias("_bseq"))
            bk = F.broadcast(bk) if bcast_batch else bk.hint("shuffle_hash")

            matched_paths = [os.path.join(self._data_dir, f["path"]) for f in matched]
            n_existing = sum(f["rows"] for f in matched)
            # DELETE winners are written as tombstone rows, not dropped:
            # a physically-removed key would be resurrected by an
            # out-of-order stale update in a later batch (the tombstone row,
            # like any row, is replaced once a strictly newer event lands).
            # Tombstones are filtered out at read().
            read_schema = T.StructType(
                list(schema.fields) + [T.StructField(_TOMBSTONE, T.BooleanType())]
            )
            if matched:
                existing = self.spark.read.schema(read_schema).parquet(*matched_paths)
                # existing row survives unless a batch change with seq >= its
                # seq targets its key (ties → the batch row wins: identical
                # payload by deterministic encryption, plus evolved columns)
                preserved = existing.join(
                    bk,
                    (existing[key_col] == F.col("_bk")) & (F.col("_bseq") >= existing[seq_col]),
                    "left_anti",
                )
                # batch winner survives unless the table already holds a
                # strictly newer row (incl. tombstone) for its key
                ek = self.spark.read.schema(read_schema).parquet(*matched_paths).select(
                    F.col(key_col).alias("_ek"), F.col(seq_col).alias("_eseq")
                )
                ek = F.broadcast(ek) if n_existing <= key_limit else ek.hint("shuffle_hash")
                batch_final = bw.join(
                    ek,
                    (bw[key_col] == F.col("_ek")) & (F.col("_eseq") > bw[seq_col]),
                    "left_anti",
                )
            else:
                preserved = None
                batch_final = bw
            # the batch rows that actually BECOME new table state (post-
            # images incl. delete tombstones) — both the merge input below
            # and, when change_feed is on, this commit's recorded changes
            batch_out = (
                batch_final.withColumn(_TOMBSTONE, F.col("op") == "D")
                .drop("op")
                .select(*data_cols, _TOMBSTONE)
            )
            write_cf = bool(snap.get("change_feed"))
            if write_cf:
                batch_out = batch_out.persist()
            merged_src = (
                preserved.select(*data_cols, _TOMBSTONE).unionByName(batch_out)
                if preserved is not None
                else batch_out
            )
            result = merged_src.persist()

            new_version = nv
            # size files from manifest stats (no extra count action): upper
            # bound = rows already in matched files + new distinct keys
            est_rows = sum(f["rows"] for f in matched) + n_batch
            new_entries = self._write_files(result, new_version, key_col, target_rows, est_rows)
            result.unpersist()
            change_manifests: list[dict] | None = None
            n_change_files = 0
            if write_cf:
                change_manifests = []
                # O(batch) side write of the surviving winners: the CDC
                # change capture a COW rewrite can't recover from its data
                # files (they fold old and new rows). Unclustered append —
                # change consumers scan per commit, not per key range.
                change_entries = self._write_files(
                    batch_out, new_version, key_col, target_rows, n_batch,
                    cluster=False, delta=True,
                )
                batch_out.unpersist()
                n_change_files = len(change_entries)
                if change_entries:
                    change_manifests = [
                        self._write_manifest(change_entries, new_version, added_at=new_version)
                    ]
            manifests = self._carryover_manifests(snap, matched_names)
            if new_entries:
                manifests = manifests + [
                    self._write_manifest(new_entries, new_version, added_at=new_version)
                ]
            return self._commit_manifests(
                snap,
                schema,
                manifests,
                batch_id=batch_id,
                app_id=app_id,
                change_manifests=change_manifests,
                ref=branch,
                new_version=nv,
                columns=columns_after,
                summary={
                    "operation": "merge",
                    "mode": "cow",
                    "n_batch": n_batch,
                    "n_deletes": n_del,
                    "n_upserts": n_batch - n_del,
                    "files_rewritten": len(matched),
                    "files_added": len(new_entries),
                    **({"change_files": n_change_files} if write_cf else {}),
                    "total_rows": sum(m["rows"] for m in manifests),
                    **(extra_summary or {}),
                },
            )
        finally:
            key_ops.unpersist()

    # ------------------------------------------------------ MOR: staged commit

    def commit_staged(
        self,
        staged_dir: str,
        *,
        batch_id: int | None = None,
        app_id: str = "default",
        batch_schema: T.StructType | None = None,
        extra_summary: dict | None = None,
    ) -> dict:
        """Adopt pre-written delta parquet files as a MOR merge commit.

        This is the fused-pipeline fast path: the ingest job writes its
        encrypted winners (with ``_tombstone`` delete rows) straight to a
        staging dir — one Spark job for encrypt + route fan-out + sink —
        and the commit is pure driver-side metadata: file moves + footer
        stats + ONE new manifest + atomic snapshot. O(files-added), never
        O(files-total). No Spark job runs here at all — except when the
        table opted into ``bloom_delta_keys``, which adds one narrow
        key-column job over the files just adopted.

        Precondition (caller contract): (key, seq) unique within the batch
        — true for any WAL/binlog batch (LSNs are unique); at-least-once
        sources that can re-deliver inside one micro-batch must dedup
        upstream (the pipeline's dedup stage) or use ``merge()``."""
        snap = self.snapshot()
        if snap.get("merge_mode", "cow") != "mor":
            raise ValueError("commit_staged requires a merge_mode='mor' table")
        fenced = self._fence(snap, batch_id, app_id)
        if fenced:
            return fenced
        # staged files are ALREADY WRITTEN, so their column names must be
        # the table's stable PHYSICAL names (after a rename the logical and
        # physical layers differ; merge() renames a logical batch, but a
        # staged file cannot be renamed in place). New columns are fine when
        # their identity physical name is free; a dropped column's lingering
        # physical name is refused so old data can't resurrect through it.
        columns_after = None
        if batch_schema is not None:
            mapping = self._columns_map(snap)
            l2p = {c["logical"]: c["physical"] for c in mapping}
            live_phys = {c["physical"] for c in mapping}
            all_phys = {f["name"] for f in snap["schema"]["fields"]}
            new_entries = []
            for f in batch_schema.fields:
                n = f.name
                if n in ("op", _TOMBSTONE, "_cseq") or n in live_phys:
                    continue
                if n in l2p:  # logical whose physical differs
                    raise ValueError(
                        f"staged column {n!r} must use the physical name "
                        f"{l2p[n]!r} (table has renamed columns; stage with "
                        "physical names or use merge())"
                    )
                if n in all_phys:  # dropped column's physical name
                    raise ValueError(
                        f"staged column {n!r} matches a DROPPED column's "
                        "physical name; re-add it via add_column()/merge() "
                        "first (it will get a fresh physical column)"
                    )
                new_entries.append({"logical": n, "physical": n})
            if snap.get("columns") is not None and new_entries:
                columns_after = mapping + new_entries
        schema = self._evolve_schema(snap, batch_schema) if batch_schema is not None else T.StructType.fromJson(snap["schema"])
        nv = self._next_version()
        new_entries = self._adopt_staged(staged_dir, nv, snap["key_col"], delta=True)
        if not new_entries:
            return {"version": snap["version"], "noop": True, "reason": "empty batch"}
        if snap.get("bloom_delta_keys"):
            from . import bloom as _bloom

            new_entries = _bloom.attach_blooms(
                self.spark, self._data_dir, new_entries, snap["key_col"]
            )
        n_batch = sum(f["rows"] for f in new_entries)
        manifests = self._carryover_manifests(snap, set()) + [
            self._write_manifest(new_entries, nv, added_at=nv)
        ]
        total_before, _ = self._totals(snap)
        return self._commit_manifests(
            snap,
            schema,
            manifests,
            batch_id=batch_id,
            new_version=nv,
            app_id=app_id,
            columns=columns_after,
            summary={
                "operation": "merge",
                "mode": "mor",
                "n_batch": n_batch,
                "files_rewritten": 0,
                "files_added": len(new_entries),
                "total_rows": total_before + n_batch,
                **(extra_summary or {}),
            },
        )

    # -------------------------------------------------------------- compaction

    def delta_ratio(self) -> float:
        """delta rows / total rows in the current snapshot (compaction
        signal) — pure manifest-list arithmetic, no file or manifest I/O."""
        total, delta = self._totals(self.snapshot())
        return (delta / total) if total else 0.0

    def delta_rows(self) -> int:
        total, delta = self._totals(self.snapshot())
        return delta

    def delta_files(self) -> int:
        """Count of delta data files in the current snapshot (minor-
        compaction signal) — pure manifest-list arithmetic: MOR manifests
        are homogeneous (a merge appends all-delta manifests; compaction
        and COW rewrites emit all-base ones), so a manifest's file count is
        all-delta exactly when it has any delta rows."""
        snap = self.snapshot()
        if "files" in snap:  # v2
            return sum(1 for f in snap["files"] if f.get("delta"))
        return sum(m["n_files"] for m in snap["manifests"] if m.get("delta_rows"))

    def compact(
        self,
        retries: int = 2,
        zorder_by: list[str] | None = None,
        stat_cols: list[str] | None = None,
    ) -> dict:
        """Fold MOR delta files into key-range-clustered base files —
        or, with ``zorder_by``, into Morton-interleave-clustered files
        (the Delta ``OPTIMIZE ... ZORDER BY`` analog) whose per-file
        secondary-column ranges are recorded in the manifest so
        ``read_where`` scans on those columns prune at the file level.
        With ``zorder_by`` the rewrite is NOT a no-op on a delta-free
        table: re-clustering an already-compacted layout is the point.
        ``stat_cols`` records per-file secondary-column ranges WITHOUT
        changing the clustering (the Iceberg column-metrics analog) — on a
        key-clustered layout those ranges are ~full-width per file, so
        ``read_where`` keeps every file: recording stats is cheap, the
        LAYOUT is what makes them selective.

        Runs the read-time latest-wins reconstruction ONCE and materializes
        the result — afterwards ``read()`` takes the no-dedup fast path,
        COW-style pruning ranges are tight again, and the manifest list
        folds back to a single manifest. A maintenance operation: schedule
        it off the ingest hot path (the pipeline triggers it by
        ``delta_ratio()`` threshold); ingest throughput never waits on
        table size.

        Concurrency: losing the snapshot race to a concurrent merge raises
        ``CommitConflict`` on the atomic commit; compaction is always safe
        to REBASE (it is a pure rewrite of current state), so it retries
        against the fresh snapshot up to ``retries`` times. Data files from
        the losing attempt are unreferenced orphans → ``vacuum()``."""
        last_err: Exception | None = None
        for _ in range(retries + 1):
            snap = self.snapshot()
            files = self._files(snap)
            if not any(f.get("delta") for f in files) and not zorder_by and not stat_cols:
                return {"version": snap["version"], "noop": True, "reason": "no delta files"}
            schema = T.StructType.fromJson(snap["schema"])
            est_rows, _ = self._totals(snap)
            nv = self._next_version()
            # winners INCLUDING tombstones: a compacted table must still
            # shadow out-of-order stale updates to deleted keys
            new_entries = self._write_files(
                self._winners_df(snap), nv, snap["key_col"],
                snap.get("target_file_rows", 500_000), est_rows,
                zorder_by=zorder_by, stat_cols=stat_cols,
            )
            # added_at=None: compaction rewrites state, it doesn't change it
            manifests = (
                [self._write_manifest(new_entries, nv)] if new_entries else []
            )
            try:
                return self._commit_manifests(
                    snap,
                    schema,
                    manifests,
                    batch_id=None,
                    app_id="__compact__",
                    new_version=nv,
                    summary={
                        "operation": "compact",
                        "files_removed": len(files),
                        "files_added": len(new_entries),
                        "total_rows": sum(e["rows"] for e in new_entries),
                        **({"zorder_by": list(zorder_by)} if zorder_by else {}),
                    },
                )
            except CommitConflict as e:
                last_err = e  # a merge won the race: rebase on its snapshot
        raise CommitConflict(f"compact lost the commit race {retries + 1} times") from last_err

    def compact_deltas(
        self,
        *,
        max_rows: int | None = None,
        min_files: int = 2,
        retries: int = 2,
    ) -> dict:
        """MINOR compaction (the Iceberg binpack-rewrite / Delta OPTIMIZE
        analog): fold SMALL delta files into fewer key-clustered delta
        files at O(folded-delta) cost — base files are never read, never
        rewritten. This is the steady-state file-count bound for a
        high-frequency ingest stream: thousands of tiny per-trigger delta
        files become a handful of clustered ones (tight min/max ranges →
        ``read_keys``/``changes()`` pruning works on them again) WITHOUT
        paying ``compact()``'s O(table) rewrite.

        ``max_rows``: fold only delta files with at most this many rows
        (default: half the table's ``target_file_rows`` — already-full
        files gain nothing from rewriting). ``min_files``: no-op below
        this many candidates.

        Correctness: within the folded subset, latest-wins collapses each
        key to its subset winner — sound because per-key max is
        associative, so winners of (subset-winner ∪ everything else) equal
        winners of the whole table. Each surviving row PRESERVES its
        original commit sequence in a stored ``_cseq`` column (the read
        path coalesces stored-over-filename), so a (seq) tie between a
        folded row and an unfolded commit resolves exactly as before the
        fold — an arbitrary subset can be folded, not just contiguous
        commit ranges (test-pinned with a crafted equal-seq tie). Folded
        manifests carry ``added_at=None`` under a 'compact' summary:
        housekeeping for ``changes()`` and the streaming source, exactly
        like a full compact, and the interval fast path keeps reading the
        ORIGINAL commits' immutable manifests. Delta ratio is unchanged
        (folded rows are still deltas) so auto-``compact()`` policy
        arithmetic is unaffected. Same optimistic rebase-retry as
        ``compact()``."""
        last_err: Exception | None = None
        for _ in range(retries + 1):
            snap = self.snapshot()
            target = snap.get("target_file_rows", 500_000)
            thr = (target // 2) if max_rows is None else max_rows
            small = [f for f in self._files(snap) if f.get("delta") and f["rows"] <= thr]
            if len(small) < min_files:
                return {
                    "version": snap["version"],
                    "noop": True,
                    "reason": f"fewer than {min_files} delta files under {thr} rows",
                }
            schema = T.StructType.fromJson(snap["schema"])
            nv = self._next_version()
            est = sum(f["rows"] for f in small)
            winners = self._winners_df(snap, small, keep_cseq=True)
            new_entries = self._write_files(
                winners, nv, snap["key_col"], target, est, delta=True
            )
            if snap.get("bloom_delta_keys"):
                from . import bloom as _bloom

                new_entries = _bloom.attach_blooms(
                    self.spark, self._data_dir, new_entries, snap["key_col"]
                )
            manifests = self._carryover_manifests(snap, {f["path"] for f in small})
            if new_entries:
                # added_at=None: folded rows are OLD data, not changes
                manifests = manifests + [self._write_manifest(new_entries, nv)]
            try:
                return self._commit_manifests(
                    snap,
                    schema,
                    manifests,
                    batch_id=None,
                    app_id="__compact__",
                    new_version=nv,
                    summary={
                        "operation": "compact",
                        "mode": "minor",
                        "files_removed": len(small),
                        "files_added": len(new_entries),
                        "delta_rows_folded": est,
                        "delta_rows_after": sum(e["rows"] for e in new_entries),
                    },
                )
            except CommitConflict as e:
                last_err = e  # a merge won the race: rebase on its snapshot
        raise CommitConflict(
            f"compact_deltas lost the commit race {retries + 1} times"
        ) from last_err

    # --------------------------------------------------------------- vacuum

    def _snapshot_refs(self, snap: dict) -> tuple[set[str], set[str]]:
        """(manifest names, data file names) one snapshot references."""
        if "files" in snap:  # v2
            return set(), {e["path"] for e in snap["files"]}
        all_manifests = list(snap["manifests"]) + list(snap.get("change_manifests", []))
        manifests = {m["path"] for m in all_manifests}
        data = set()
        for m in all_manifests:
            data |= {e["path"] for e in self._read_manifest(m["path"])}
        return manifests, data

    def _referenced(self) -> tuple[set[str], set[str]]:
        """(manifests, data files) referenced by ANY remaining snapshot."""
        referenced_manifests: set[str] = set()
        referenced_data: set[str] = set()
        for name in os.listdir(self._snap_dir):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self._snap_dir, name)) as f:
                    snap = json.load(f)
                m, d = self._snapshot_refs(snap)
                referenced_manifests |= m
                referenced_data |= d
        return referenced_manifests, referenced_data

    def delete_where(
        self,
        condition,
        *,
        batch_id: int | None = None,
        app_id: str = "default",
        branch: str | None = None,
    ) -> dict:
        """Predicate row-level delete (the GDPR / right-to-be-forgotten op;
        Delta/Iceberg ``DELETE FROM ... WHERE``): tombstone every key whose
        CURRENT latest-wins winner matches ``condition`` (a Catalyst
        expression string or Column).

        Expressed THROUGH the normal merge: the matched winners are
        re-emitted as op='D' rows at their OWN seq — the read-time
        tie-break (seq, commit-seq) resolves equal-seq duplicates toward
        the newer commit, so the tombstone shadows the winner without
        inventing a synthetic seq, and a LATER CDC event for the key
        (higher seq) still resurrects it — correct CDC semantics, not a
        permanent tombstone. Cost: one pruned read + an O(matched) merge;
        all merge machinery (fencing, branches, change feed, COW rewrite
        pruning) applies unchanged. Physical payload bytes linger in
        superseded files until ``compact()``/``expire_snapshots``/
        ``vacuum()`` — run maintenance afterwards for physical erasure.
        """
        snap = self.snapshot(self.ref_version(branch) if branch else None)
        matched = self.read(version=snap["version"]).filter(condition)
        batch = matched.select(F.lit("D").alias("op"), *[f.name for f in self.schema(snap["version"]).fields])
        return self.merge(batch, batch_id=batch_id, app_id=app_id, branch=branch)

    def rollback(self, version: int) -> dict:
        """Roll the table back to an earlier snapshot as a NEW commit
        (Iceberg ``rollback`` semantics): the target snapshot's schema and
        manifest list are re-adopted VERBATIM — a pure O(1) metadata
        write, no data file touched, no manifest rewritten — and history
        is preserved, so the undone commits stay time-travelable until
        ``expire_snapshots`` retires them (their files are then reclaimed
        by the normal targeted set-diff). Table-level config flags
        (change_feed / bloom) and the exactly-once batch watermark stay at
        their CURRENT values: rollback undoes DATA, not configuration, and
        a re-delivered already-fenced batch must remain a no-op afterwards
        (explicitly re-merge with a new batch_id to re-apply undone rows).

        Change attribution: a rollback commit is deliberately
        UNATTRIBUTABLE (``added_delta_entries`` → None) — its net effect
        is the REMOVAL of the undone commits' rows, which a feed of added
        files cannot express — so ``changes()`` across a rollback falls
        back to the full winner diff and the streaming source refuses the
        commit (resync from a fresh checkpoint, same contract as a
        feed-less COW merge)."""
        target = self.snapshot(version)  # FileNotFoundError if expired
        cur = self.snapshot()
        if version == cur["version"]:
            return {"version": version, "noop": True}
        new_version = self._next_version()
        if "files" in target:  # v2-format target: repackage the inline list
            manifests = (
                [self._write_manifest(target["files"], new_version)]
                if target["files"]
                else []
            )
        else:
            manifests = list(target["manifests"])
        new_snap = {
            "format_version": FORMAT_VERSION,
            "version": new_version,
            "parent": cur["version"],
            "schema": target["schema"],
            **(
                {"columns": target["columns"]} if target.get("columns") is not None else {}
            ),
            "key_col": cur["key_col"],
            "seq_col": cur["seq_col"],
            "target_file_rows": cur.get("target_file_rows", 500_000),
            "merge_mode": cur.get("merge_mode", "cow"),
            "change_feed": cur.get("change_feed", False),
            "bloom_delta_keys": cur.get("bloom_delta_keys", False),
            "manifests": manifests,
            "last_batch": dict(cur["last_batch"]),
            "summary": {"operation": "rollback", "to_version": version},
            "timestamp_ms": int(time.time() * 1000),
        }
        self._commit(new_snap)
        return {"version": new_version, "noop": False, "to_version": version}

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Snapshot retention (Iceberg ``expireSnapshots`` analog): drop all
        but the most recent ``keep_last`` snapshots, then delete the data +
        manifest files ONLY those dropped snapshots referenced. The
        deletion is a targeted set-diff (expired refs − surviving refs) —
        these files were provably committed, so no age guard applies; true
        orphans are left to ``vacuum()``'s grace-guarded sweep. Time
        travel remains available within the retention window; the
        exactly-once batch watermark lives in the CURRENT snapshot and is
        unaffected."""
        cur = self.current_version()
        # keep the last ``keep_last`` MAIN-CHAIN snapshots (parent walk —
        # identical to the old numeric window on a linear table, but branch
        # commits sharing the number space no longer shrink the window)
        # plus every named ref head (tags pin their snapshot; a branch head
        # must stay committable). Ref ANCESTORS expire normally — reading
        # an expired intermediate raises, it never silently mis-reads.
        keep: set[int] = set()
        v = cur
        while v is not None and len(keep) < keep_last:
            keep.add(v)
            try:
                v = self.snapshot(v)["parent"]
            except FileNotFoundError:
                break
        keep |= {int(r["version"]) for r in self.refs().values()}
        removed_snaps = []
        expired_manifests: set[str] = set()
        expired_data: set[str] = set()
        for name in sorted(os.listdir(self._snap_dir)):
            if name.startswith("v") and name.endswith(".json"):
                v = int(name[1:-5])
                if v not in keep:
                    with open(os.path.join(self._snap_dir, name)) as f:
                        snap = json.load(f)
                    m, d = self._snapshot_refs(snap)
                    expired_manifests |= m
                    expired_data |= d
                    os.unlink(os.path.join(self._snap_dir, name))
                    removed_snaps.append(v)
        live_manifests, live_data = self._referenced()
        removed_files = 0
        for name in expired_data - live_data:
            try:
                os.unlink(os.path.join(self._data_dir, name))
                removed_files += 1
            except FileNotFoundError:
                pass
        for name in expired_manifests - live_manifests:
            try:
                os.unlink(os.path.join(self._manifest_dir, name))
                self._manifest_cache.pop(name, None)
                removed_files += 1
            except FileNotFoundError:
                pass
        return {
            "expired_snapshots": removed_snaps,
            "removed_files": removed_files,
            "oldest_kept": min(keep) if keep else cur,
        }

    def _sweep_changes_scratch(self, grace_s: float = CHANGES_SCRATCH_GRACE_S) -> None:
        """Reclaim beyond-cap ``changes()`` key-set scratch dirs older than
        ``grace_s``. Called by each beyond-cap ``changes()`` before writing
        its own scratch, so the files are bounded by the active-consumer
        window instead of accumulating until a vacuum() (ADVICE r5 #3).
        The grace must exceed the longest gap between a ``changes()`` call
        and its consumer's LAST materialization — see the hazard note at
        the write site."""
        staging = os.path.join(self.path, "_staging")
        if not os.path.isdir(staging):
            return
        cutoff = time.time() - grace_s
        for name in os.listdir(staging):
            if not name.startswith("changes-keys-"):
                continue
            d = os.path.join(staging, name)
            try:
                if os.path.getmtime(d) > cutoff:
                    continue
                for n in os.listdir(d):
                    os.unlink(os.path.join(d, n))
                os.rmdir(d)
            except (FileNotFoundError, NotADirectoryError):
                continue  # racing sweep/vacuum got there first

    def vacuum(self, orphan_grace_s: float = 600.0) -> list[str]:
        """Delete data files and manifest files not referenced by any
        remaining snapshot (crash / losing-writer orphans). EVERY
        unreferenced file younger than ``orphan_grace_s`` is kept — not
        just staging files: a data file adopted into ``data/`` by an
        in-flight ``merge``/``commit_staged`` is unreferenced for the
        instant between the move and the snapshot swap, and collecting it
        would leave the subsequently committed snapshot pointing at a
        deleted file (ADVICE r3 #3; the same age guard as Iceberg's
        remove_orphan_files, whose default is days)."""
        cutoff = time.time() - orphan_grace_s

        def _expired(p: str) -> bool:
            # racing writer may move/remove the file between listdir and
            # stat — treat a vanished file as not ours to collect
            try:
                return os.path.getmtime(p) <= cutoff
            except FileNotFoundError:
                return False

        referenced_manifests, referenced_data = self._referenced()
        removed = []
        for name in os.listdir(self._data_dir):
            p = os.path.join(self._data_dir, name)
            if name.endswith(".parquet") and name not in referenced_data and _expired(p):
                os.unlink(p)
                removed.append(name)
        if os.path.isdir(self._manifest_dir):
            for name in os.listdir(self._manifest_dir):
                p = os.path.join(self._manifest_dir, name)
                if name.endswith(".json") and name not in referenced_manifests and _expired(p):
                    os.unlink(p)
                    self._manifest_cache.pop(name, None)
                    removed.append(name)
        # staging leftovers from crashed writers (streaming sink / fused
        # pipeline): nothing under _staging is ever referenced by a
        # snapshot — committed files are MOVED out before the commit
        staging = os.path.join(self.path, "_staging")
        if os.path.isdir(staging):
            for root, _dirs, names in os.walk(staging, topdown=False):
                for n in names:
                    p = os.path.join(root, n)
                    if _expired(p):
                        os.unlink(p)
                        removed.append(os.path.join(os.path.relpath(root, self.path), n))
                if root != staging and not os.listdir(root):
                    os.rmdir(root)
        return removed
