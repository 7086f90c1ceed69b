"""SparkParquetStreamStore — the engine's durable store: an append-only
Parquet log + a tiny JSON manifest, committed by a serialized
single-writer protocol (SURVEY.md §3.2's Spark design).

Architecture (vs the reference's RDBMS backends):
  - WRITE path: driver-side commit protocol. The append decision (§2.3)
    runs in Python; the batch is written as one Parquet file (pyarrow —
    a driver-local columnar write, no Spark job for a handful of rows;
    ``_commit_table`` is the one writer for transactional appends and
    for Arrow-table ``bulk_append`` calls such as the streaming sink's
    micro-batches); the manifest (head position, per-stream heads, file
    list, deletion sets) is swapped atomically via write-temp + rename.
    Dense positions are assigned here, so the reference's gap
    detection/3s-stabilization (ReadonlyStreamStoreBase.cs:65-89) is
    unnecessary by construction.
  - READ path: API pages (stream pages, `$all` pages, idempotency id
    loads, lazy json fetch) are driver-local pyarrow scans pruned by an
    in-memory per-file index — each manifest file's footer min/max of
    `position` and `stream_id` plus its row count, read once per file
    name — so a call opens only the files that can hold its answer (the
    analog of the reference's PK(position) and (stream, version)
    indexes). Analytics reads `log_df()`: a Spark DataFrame over the
    manifest's file list with deletion filters.
  - DELETES are O(1) logical (deletion sets in the manifest, anti-joined
    on read) — the Delta-style deletion-vector approach; `compact()`
    rewrites files to apply them physically and to merge small commit
    files (maintenance, like the reference's async scavenge queue).

Scale notes: the manifest holds per-stream heads — O(#streams), the
same cardinality the reference keeps in its `streams` table
(Tables.sql:4-15). The id-window cache used by idempotency checks loads
one stream's ids on demand (the analog of the reference's indexed
(stream, message_id) lookups, Tables.sql:45)."""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import uuid as _uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlstreamstore_spark.schema import MESSAGES_SCHEMA
from sqlstreamstore_spark.store.base import StreamStore
from sqlstreamstore_spark.store.messages import NewStreamMessage, StreamMessage


def _migrate_manifest(m: dict) -> dict:
    if isinstance(m.get("deleted_streams"), list):
        # migrate pre-cutoff manifests (deleted ids only): treat
        # everything up to the head at load time as deleted.
        m["deleted_streams"] = {
            sid: m["head_position"] for sid in m["deleted_streams"]
        }
    return m


def _empty_manifest_state() -> dict:
    return {
        "version": 0,
        "head_position": -1,
        "streams": {},
        "files": [],
        # stream_id -> max position covered by the delete; rows of the
        # stream at positions <= cutoff are dead, later appends (a
        # re-created stream) stay visible — reference semantics
        # (InMemoryStreamStore.cs delete + re-append round-trips).
        "deleted_streams": {},
        "deleted_messages": {},
    }


def _read_sidecar(version_path: str) -> tuple[int, int] | None:
    """(current_version, latest_snapshot_version); legacy single-number
    sidecars mean snapshot == current. None when absent/corrupt."""
    try:
        with open(version_path) as f:
            parts = f.read().split()
        if len(parts) == 1:
            return int(parts[0]), int(parts[0])
        return int(parts[0]), int(parts[1])
    except (OSError, ValueError):
        return None


def _apply_manifest_patch(state: dict, p: dict) -> None:
    state["version"] = p["version"]
    if "head_position" in p:
        state["head_position"] = p["head_position"]
    state["streams"].update(p.get("streams", {}))
    for sid in p.get("streams_del", []):
        state["streams"].pop(sid, None)
    state["files"].extend(p.get("files_add", []))
    if p.get("deleted_streams") is not None:
        state["deleted_streams"] = p["deleted_streams"]
    if p.get("deleted_messages") is not None:
        state["deleted_messages"] = p["deleted_messages"]
    if p.get("sink_epochs") is not None:
        state["sink_epochs"] = p["sink_epochs"]


def _replay_manifest(history_dir: str, base: dict, to_version: int) -> dict:
    """Apply history entries base.version+1 .. to_version. A .snap.json
    or legacy-full {v}.json along the way resets the state wholesale
    (both are complete manifests)."""
    state = base
    for v in range(base["version"] + 1, to_version + 1):
        snap = os.path.join(history_dir, f"{v}.snap.json")
        if os.path.exists(snap):
            with open(snap) as f:
                state = _migrate_manifest(json.load(f))
            continue
        with open(os.path.join(history_dir, f"{v}.json")) as f:
            entry = json.load(f)
        if entry.get("patch"):
            _apply_manifest_patch(state, entry)
        else:  # pre-delta-log archive: a full manifest copy
            state = _migrate_manifest(entry)
    return state


def resolve_manifest_state(path: str) -> tuple[dict, int]:
    """Current (state, latest_snapshot_version) for a store directory —
    the delta-log resolution shared by store handles and out-of-process
    readers (the custom streaming DataSource)."""
    manifest_path = os.path.join(path, "manifest.json")
    history_dir = os.path.join(path, "manifest.history")
    side = _read_sidecar(os.path.join(path, "manifest.version"))
    if side is None:
        # legacy / fresh store: manifest.json (if any) IS the state
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                m = _migrate_manifest(json.load(f))
            return m, m["version"]
        return _empty_manifest_state(), 0
    current, snap_v = side
    base = None
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            base = _migrate_manifest(json.load(f))
        if base["version"] > current:
            # pre-delta-log crash window: the OLD commit point was the
            # manifest rename (sidecar written after), so a manifest
            # ahead of the sidecar is the committed state
            return base, base["version"]
    if (base is None or base["version"] < snap_v) and snap_v > 0:
        with open(os.path.join(history_dir, f"{snap_v}.snap.json")) as f:
            base = _migrate_manifest(json.load(f))
    if base is None:
        base = _empty_manifest_state()
    if base["version"] >= current:
        return base, snap_v
    return _replay_manifest(history_dir, base, current), snap_v


class _FileEntry(NamedTuple):
    """A commit file's footer summary: min/max of ``position`` and
    ``stream_id`` over all row groups (None when any row group lacks
    statistics for the column) and its row count."""

    name: str
    position_min: int | None
    position_max: int | None
    stream_min: str | None
    stream_max: str | None
    num_rows: int


def _column_range(md, column: str) -> tuple:
    idx = md.schema.names.index(column)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def _read_footer_entry(path: str, name: str) -> _FileEntry:
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return _FileEntry(
        name, *_column_range(md, "position"), *_column_range(md, "stream_id"),
        md.num_rows,
    )


@functools.cache
def _commit_schema():
    """The schema every driver-written commit file carries:
    ``arrow_messages_schema()`` with the nullability of
    ``MESSAGES_SCHEMA`` (only json_metadata may be null)."""
    import pyarrow as pa

    from sqlstreamstore_spark.schema import arrow_messages_schema

    nullable = {f.name: f.nullable for f in MESSAGES_SCHEMA.fields}
    return pa.schema(
        [f.with_nullable(nullable[f.name]) for f in arrow_messages_schema()]
    )


def _ranges_meet(fmin, fmax, lo, hi) -> bool:
    """Can a file whose column spans [fmin, fmax] hold a value in
    [lo, hi]? An unknown file range (no statistics) always can; a None
    bound is open."""
    if fmin is None:
        return True
    return (hi is None or fmin <= hi) and (lo is None or fmax >= lo)


class SparkParquetStreamStore(StreamStore):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        get_utc_now: Callable[[], _dt.datetime] | None = None,
        track_deletions: bool = True,
        as_of_version: int | None = None,
    ):
        super().__init__(get_utc_now, track_deletions)
        self.spark = spark
        self.path = path
        self._data_dir = os.path.join(path, "data")
        self._manifest_path = os.path.join(path, "manifest.json")
        self._lock_path = os.path.join(path, ".manifest.lock")
        self._version_path = os.path.join(path, "manifest.version")
        self._history_dir = os.path.join(path, "manifest.history")
        os.makedirs(self._data_dir, exist_ok=True)
        self._read_only = as_of_version is not None
        # set by mutators that touch non-stream manifest state (deletion
        # sets, file replacements) without saving in the same call: the
        # NEXT commit must be a full snapshot, never a patch, or the
        # piggybacked state would be lost on replay
        self._manifest_dirty = False
        self._manifest = self._load_manifest()
        if as_of_version is not None and self._manifest["version"] != as_of_version:
            self._manifest = self._load_archived_manifest(as_of_version)
        self._ids_cache: dict[str, list[str]] = {}
        self._log_cache: DataFrame | None = None
        self._log_cache_version = -1
        # per-file footer index (see _file_index): entries by file name,
        # and ((files list, its length), index list) for the manifest
        # file list the index was built from
        self._footers: dict[str, _FileEntry] = {}
        self._index_state: tuple = ((None, -1), [])

    # ---------------------------------------------------------- time travel

    def as_of(self, version: int) -> "SparkParquetStreamStore":
        """Read-only snapshot of the store at manifest ``version`` —
        Delta-style time travel over the commit log. Every commit
        archives its manifest into ``manifest.history/``, and data files
        are immutable until ``compact()``, so the full read API
        (paged reads, heads, metadata, list_streams, ``log_df``) works
        against any archived version: audit "what did consumers see at
        commit V", reproduce a downstream job, or diff two commits.
        Write operations on a snapshot raise.

        Caveat (same contract as Delta VACUUM): ``compact()`` rewrites
        the live log and deletes superseded data files — snapshots older
        than the last compaction may reference removed files and fail at
        scan time. Archive retention is the operator's policy decision.
        """
        return SparkParquetStreamStore(
            self.spark, self.path, get_utc_now=self.get_utc_now,
            track_deletions=self.track_deletions, as_of_version=version,
        )

    @property
    def manifest_version(self) -> int:
        """The commit version this handle reads (monotonic per commit)."""
        return self._manifest["version"]

    def changes_between(self, from_version: int, to_version: int) -> DataFrame:
        """CDC over commits: the messages a reader at ``to_version``
        gained since ``from_version`` — the ``to`` snapshot's log
        restricted to positions above the ``from`` head. Deletions that
        happened before ``to`` are applied (they're part of ``to``'s
        view); ones after are not. Feed it to incremental consumers
        that process commit ranges instead of polling pages."""
        head_from = (
            -1 if from_version == 0
            else self._manifest_at(from_version)["head_position"]
        )
        return self.as_of(to_version).log_df().filter(
            F.col("position") > head_from
        )

    def _manifest_at(self, version: int) -> dict:
        if version == self._manifest["version"]:
            return self._manifest
        return self._load_archived_manifest(version)

    def _load_archived_manifest(self, version: int) -> dict:
        """State at an arbitrary historical version: walk down to the
        nearest full snapshot (a .snap.json, or a pre-delta-log full
        archive, or the empty store at 0), then replay patches up."""
        base = None
        v = version
        while v > 0:
            snap = os.path.join(self._history_dir, f"{v}.snap.json")
            if os.path.exists(snap):
                with open(snap) as f:
                    base = _migrate_manifest(json.load(f))
                break
            pth = os.path.join(self._history_dir, f"{v}.json")
            if os.path.exists(pth):
                with open(pth) as f:
                    entry = json.load(f)
                if not entry.get("patch"):
                    base = _migrate_manifest(entry)
                    break
                v -= 1
                continue
            raise ValueError(
                f"no archived manifest for version {version} "
                f"(missing history entry for commit {v}: store predates "
                "time travel, or archives were pruned)"
            )
        if base is None:
            base = _empty_manifest_state()
        try:
            return _replay_manifest(self._history_dir, base, version)
        except OSError as e:
            raise ValueError(
                f"no archived manifest for version {version} ({e})"
            ) from None

    def refresh(self) -> None:
        """Re-sync this handle with the on-disk manifest — the retry
        recipe after ``ConcurrentWriteError`` in a multi-writer
        deployment: catch, ``refresh()``, re-issue the append (the §2.3
        idempotency check makes a replayed batch safe). Discards all
        in-memory state from a failed attempt; the attempt's orphan data
        files are invisible to manifest-scoped readers and reclaimed by
        ``compact()``."""
        if self._read_only:
            return  # snapshots stay frozen at their version
        with self._write_lock:
            self._manifest = self._load_manifest()
            self._manifest_dirty = False  # unsaved mutations discarded
            self._ids_cache.clear()
            self._meta_cache.clear()
            self._log_cache = None
            self._log_cache_version = -1

    # -------------------------------------------------------------- manifest

    #: Full snapshot every N commits on the patch (append) path; every
    #: non-append commit (delete/scavenge/compact/...) is a snapshot.
    SNAPSHOT_EVERY = 64

    def _load_manifest(self) -> dict:
        state, snap_v = resolve_manifest_state(self.path)
        self._snapshot_version = snap_v
        return state

    def _save_manifest(self, patch: dict | None = None) -> None:
        """Delta-log commit with single-writer enforcement: an exclusive
        flock around a version CAS (the on-disk version must equal the
        version this handle loaded/last wrote; the loser raises
        ConcurrentWriteError instead of clobbering the winner).

        Commit cost is O(change), not O(#streams): the append hot paths
        pass a ``patch`` (touched stream heads + files added + new head
        position) written as ``manifest.history/{V}.json``; every
        non-append commit — and every SNAPSHOT_EVERY-th commit — writes
        a full ``{V}.snap.json`` snapshot instead. Open replays the
        patches above the latest snapshot (the reference's SQL backends
        update one `streams` row per append for the same O(change)
        reason, AppendToStream.sql:160-163). ``manifest.json`` remains a
        snapshot CACHE refreshed after snapshot commits; the COMMIT
        POINT is the atomic sidecar rename (``V S`` = current version +
        latest snapshot version), so a crash at any earlier step leaves
        only an orphan history file that the version's eventual winner
        overwrites. The per-version history doubles as the time-travel
        archive (as_of replays to any version)."""
        import fcntl

        from sqlstreamstore_spark.exceptions import ConcurrentWriteError

        if self._read_only:
            raise ValueError(
                "as_of() snapshot handles are read-only; open the store "
                "without as_of_version to write"
            )
        expected = self._manifest["version"]
        with open(self._lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                side = _read_sidecar(self._version_path)
                if side is not None:
                    found = side[0]
                    if found != expected and os.path.exists(self._manifest_path):
                        # legacy crash window: the OLD commit point was
                        # the manifest.json rename with the sidecar
                        # written after, so a manifest AHEAD of the
                        # sidecar is the committed state (the same rule
                        # resolve_manifest_state applies on open) —
                        # without this re-confirmation such a store
                        # would raise ConcurrentWriteError forever
                        with open(self._manifest_path) as f:
                            mv = json.load(f).get("version", 0)
                        if mv > found:
                            found = mv
                elif os.path.exists(self._manifest_path):
                    # pre-sidecar store: manifest.json IS the state
                    with open(self._manifest_path) as f:
                        found = json.load(f).get("version", 0)
                else:
                    found = 0
                if found != expected:
                    raise ConcurrentWriteError(self.path, expected, found)
                new_version = expected + 1
                self._manifest["version"] = new_version
                os.makedirs(self._history_dir, exist_ok=True)
                snapshot_due = (
                    patch is None
                    or self._manifest_dirty
                    or new_version % self.SNAPSHOT_EVERY == 0
                )
                if snapshot_due:
                    snap = os.path.join(
                        self._history_dir, f"{new_version}.snap.json"
                    )
                    tmp = snap + f".tmp.{_uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump(self._manifest, f, separators=(",", ":"))
                    os.replace(tmp, snap)
                    self._snapshot_version = new_version
                else:
                    entry = dict(patch)
                    entry["version"] = new_version
                    entry["patch"] = True
                    pth = os.path.join(self._history_dir, f"{new_version}.json")
                    tmp = pth + f".tmp.{_uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump(entry, f, separators=(",", ":"))
                    os.replace(tmp, pth)
                    # a crashed snapshot writer may have orphaned a
                    # {V}.snap.json for THIS version; replay prefers
                    # .snap.json, so it would shadow this committed
                    # patch with uncommitted state — remove it before
                    # the commit point (removing an uncommitted orphan
                    # is always safe)
                    stale_snap = os.path.join(
                        self._history_dir, f"{new_version}.snap.json"
                    )
                    if os.path.exists(stale_snap):
                        os.remove(stale_snap)
                # COMMIT POINT
                tmpv = self._version_path + f".tmp.{_uuid.uuid4().hex}"
                with open(tmpv, "w") as f:
                    f.write(f"{new_version} {self._snapshot_version}")
                os.replace(tmpv, self._version_path)
                if snapshot_due:
                    # refresh the snapshot cache (post-commit best-effort:
                    # open() falls back to the .snap.json file)
                    tmp = self._manifest_path + f".tmp.{_uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump(self._manifest, f, separators=(",", ":"))
                    os.replace(tmp, self._manifest_path)
                self._manifest_dirty = False
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    # ------------------------------------------------------------------- log

    def log_df(self) -> DataFrame:
        """The live message log as a DataFrame (deletion filters applied).
        This is the store's analytics surface — feed it to any operator."""
        if self._log_cache is not None and self._log_cache_version == self._manifest["version"]:
            return self._log_cache
        m = self._manifest
        # Capture the version BEFORE building: a concurrent append (e.g.
        # the commit thread racing a subscription's read thread) would
        # otherwise bump the manifest mid-build and we'd tag a stale
        # DataFrame with the new version — permanently hiding the new
        # rows from every later read.
        version_at_build = m["version"]
        if not m["files"]:
            df = self.spark.createDataFrame([], MESSAGES_SCHEMA)
        else:
            paths = [os.path.join(self._data_dir, fn) for fn in m["files"]]
            df = self.spark.read.schema(MESSAGES_SCHEMA).parquet(*paths)
            if m["deleted_streams"]:
                dead_streams = self.spark.createDataFrame(
                    list(m["deleted_streams"].items()),
                    "stream_id string, __cutoff long",
                )
                # broadcast hash anti-join on stream_id with the position
                # bound as the extra condition — rows of a re-created
                # stream (position > cutoff) survive.
                df = df.join(
                    F.broadcast(dead_streams),
                    on=[
                        df["stream_id"] == dead_streams["stream_id"],
                        df["position"] <= dead_streams["__cutoff"],
                    ],
                    how="left_anti",
                )
            pairs = [
                (sid, mid)
                for sid, mids in m["deleted_messages"].items()
                for mid in mids
            ]
            if pairs:
                dead = self.spark.createDataFrame(pairs, "stream_id string, message_id string")
                df = df.join(F.broadcast(dead), ["stream_id", "message_id"], "left_anti")
        self._log_cache = df
        self._log_cache_version = version_at_build
        return df

    # -------------------------------------------------------------- backend

    def _head_position(self) -> int:
        return self._manifest["head_position"]

    def _stream_head(self, stream_id: str):
        s = self._manifest["streams"].get(stream_id)
        return (s["version"], s["position"]) if s else None

    def _file_index(self) -> list[_FileEntry]:
        """One footer entry per manifest file, in manifest order — the
        store's substitute for the reference's PK(position) and
        (stream, version) B-trees on the JVM-free path. Data files are
        immutable once named, so a footer is read once per file name,
        when the name first shows up in the manifest (open, commit,
        refresh, compaction); the list itself is rebuilt only when the
        manifest's file list changes. That list only ever grows in
        place (commits) or is replaced wholesale (open, refresh,
        compaction), so its identity plus its length pin its content."""
        files = self._manifest["files"]
        key, index = self._index_state
        if key[0] is files and key[1] == len(files):
            return index
        n = len(files)
        names = files[:n]
        footers = {
            fn: self._footers.get(fn)
            or _read_footer_entry(os.path.join(self._data_dir, fn), fn)
            for fn in names
        }
        self._footers = footers  # drops names compaction retired
        index = [footers[fn] for fn in names]
        # one tuple assignment: concurrent readers see a key and its
        # index together or not at all
        self._index_state = ((files, n), index)
        return index

    def _stream_point_scan(self, stream_id: str, flt, columns: list[str]):
        """Driver-local pyarrow scan of the commit files that can hold
        ``stream_id``'s live rows, with deletion filters applied — the
        store's analog of the reference's indexed point lookups
        (Tables.sql:42-46). A file is opened only when its footer's
        stream_id range contains the stream and its position range
        meets the stream's live ``[first_position, position]`` window
        from the manifest (raised above a delete's cutoff); a file
        whose footer lacks statistics for a column is never pruned on
        it. Point lookups (idempotency ids, lazy json fetch, stream
        pages) are tiny keyed reads; launching a Spark job for each
        would pay ~100 ms of scheduling per append. Analytics stays on
        log_df()."""
        import pyarrow.dataset as ds

        from sqlstreamstore_spark.schema import arrow_messages_schema

        m = self._manifest
        s = m["streams"].get(stream_id)
        lo, hi = None, None  # an unknown stream is not pruned by position
        if s is not None:
            lo, hi = s.get("first_position"), s["position"]
        cutoff = m["deleted_streams"].get(stream_id)
        if cutoff is not None and (lo is None or lo <= cutoff):
            lo = cutoff + 1
        files = [
            os.path.join(self._data_dir, e.name)
            for e in self._file_index()
            if e.num_rows
            and _ranges_meet(e.stream_min, e.stream_max, stream_id, stream_id)
            and _ranges_meet(e.position_min, e.position_max, lo, hi)
        ]
        schema = arrow_messages_schema()
        if not files:
            import pyarrow as pa

            return pa.table(
                {c: [] for c in columns},
                schema=pa.schema([schema.field(c) for c in columns]),
            )
        dataset = ds.dataset(files, format="parquet", schema=schema)
        return dataset.to_table(filter=flt, columns=columns)

    def _stream_stored_ids(self, stream_id: str) -> list[str]:
        if stream_id not in self._ids_cache:
            import pyarrow.dataset as ds

            m = self._manifest
            flt = ds.field("stream_id") == stream_id
            cutoff = m["deleted_streams"].get(stream_id)
            if cutoff is not None:
                flt = flt & (ds.field("position") > cutoff)
            tbl = self._stream_point_scan(
                stream_id, flt, ["stream_version", "message_id"]
            )
            dead = set(m["deleted_messages"].get(stream_id, []))
            pairs = sorted(
                (v, mid)
                for v, mid in zip(
                    tbl.column("stream_version").to_pylist(),
                    tbl.column("message_id").to_pylist(),
                )
                if mid not in dead
            )
            self._ids_cache[stream_id] = [mid for _v, mid in pairs]
        return self._ids_cache[stream_id]

    def _rows_to_messages(self, rows) -> list[StreamMessage]:
        return [
            StreamMessage(
                stream_id=r["stream_id"], message_id=r["message_id"],
                stream_version=r["stream_version"], position=r["position"],
                created_utc=r["created_utc"], type=r["type"],
                json_metadata=r["json_metadata"], json_data=r["json_data"],
            )
            for r in rows
        ]

    def _read_stream_slice(self, stream_id, from_version, count, forwards):
        # Always the keyed pyarrow point scan — never a Spark job. An
        # API page is maxCount-bounded; a distributed query for it pays
        # the ~50-100 ms job floor regardless of scan size, while the
        # keyed scan is ~ms (and the only option on spark=None ingest
        # handles). log_df() remains the analytics surface.
        return self._read_stream_slice_arrow(stream_id, from_version, count, forwards)

    def _read_stream_slice_arrow(self, stream_id, from_version, count, forwards):
        import pyarrow.dataset as ds

        m = self._manifest
        flt = ds.field("stream_id") == stream_id
        if forwards:
            flt = flt & (ds.field("stream_version") >= from_version)
        else:
            flt = flt & (ds.field("stream_version") <= from_version)
        cutoff = m["deleted_streams"].get(stream_id)
        if cutoff is not None:
            flt = flt & (ds.field("position") > cutoff)
        tbl = self._stream_point_scan(
            stream_id,
            flt,
            ["position", "stream_id", "stream_version", "message_id",
             "created_utc", "type", "json_data", "json_metadata"],
        )
        dead = set(m["deleted_messages"].get(stream_id, []))
        rows = [r for r in tbl.to_pylist() if r["message_id"] not in dead]
        rows.sort(key=lambda r: r["stream_version"], reverse=not forwards)
        return self._rows_to_messages(rows[:count])

    def _read_all_slice(self, from_position, count, forwards):
        # Footer-range-pruned pyarrow scan (see _read_all_slice_arrow) —
        # same rationale as _read_stream_slice: a maxCount-bounded page
        # should never cost a cluster job.
        return self._read_all_slice_arrow(from_position, count, forwards)

    def _read_all_slice_arrow(self, from_position, count, forwards):
        """maxCount-bounded global page without a JVM: take candidate
        files from the footer index (position range on the requested
        side of ``from_position``), read them in range order in batches
        whose footer row counts cover the rows still missing (one
        dataset per batch), and stop as soon as no unread file can
        still contribute to the first ``count`` surviving rows.
        Overlapping ranges (the by_stream compaction layout) stay
        correct via the kth-position bound; files without position
        statistics are read first and never skipped."""
        import pyarrow.dataset as ds

        from sqlstreamstore_spark.schema import arrow_messages_schema

        m = self._manifest
        lo, hi = (from_position, None) if forwards else (None, from_position)
        cands = [
            e for e in self._file_index()
            if e.num_rows and _ranges_meet(e.position_min, e.position_max, lo, hi)
        ]
        if forwards:
            flt = ds.field("position") >= from_position
            cands.sort(key=lambda e: (e.position_min is not None, e.position_min or 0))
        else:
            flt = ds.field("position") <= from_position
            cands.sort(key=lambda e: (e.position_max is not None, -(e.position_max or 0)))

        def rows_bound(e) -> int:
            # positions are unique, so the in-range span caps the rows
            if e.position_min is None:
                return e.num_rows
            top = e.position_max if hi is None else min(e.position_max, hi)
            bottom = e.position_min if lo is None else max(e.position_min, lo)
            return min(e.num_rows, top - bottom + 1)

        schema = arrow_messages_schema()
        dead_streams = m["deleted_streams"]
        dead_msgs = m["deleted_messages"]
        dead_sets: dict[str, set[str]] = {}
        cols = ["position", "stream_id", "stream_version", "message_id",
                "created_utc", "type", "json_data", "json_metadata"]
        rows: list[dict] = []
        i = 0
        while i < len(cands):
            need = max(count - len(rows), 1)
            batch, bound = [], 0
            while i < len(cands) and bound < need:
                batch.append(os.path.join(self._data_dir, cands[i].name))
                bound += rows_bound(cands[i])
                i += 1
            dataset = ds.dataset(batch, format="parquet", schema=schema)
            for r in dataset.to_table(filter=flt, columns=cols).to_pylist():
                sid = r["stream_id"]
                cut = dead_streams.get(sid)
                if cut is not None and r["position"] <= cut:
                    continue
                dead = dead_sets.get(sid)
                if dead is None:
                    dead = dead_sets[sid] = set(dead_msgs.get(sid, ()))
                if r["message_id"] in dead:
                    continue
                rows.append(r)
            if len(rows) >= count and i < len(cands):
                rows.sort(key=lambda r: r["position"], reverse=not forwards)
                kth = rows[count - 1]["position"]
                nxt = cands[i]
                # no later file can beat the current kth row
                if nxt.position_min is not None and (
                    (nxt.position_min > kth) if forwards
                    else (nxt.position_max < kth)
                ):
                    break
        rows.sort(key=lambda r: r["position"], reverse=not forwards)
        return self._rows_to_messages(rows[:count])

    def _assert_writable(self) -> None:
        if self._read_only:
            raise ValueError(
                "as_of() snapshot handles are read-only; open the store "
                "without as_of_version to write"
            )

    def _commit_messages(self, stream_id, base_version, base_position, messages, created_utc):
        self._assert_writable()
        if not messages:
            # an empty append creates the stream: a head-only commit
            s = self._manifest["streams"].setdefault(
                stream_id,
                {"version": -1, "position": -1, "first_position": None, "count": 0},
            )
            self._save_manifest(patch={"streams": {stream_id: dict(s)}})
            return base_version, base_position
        import pyarrow as pa

        n = len(messages)
        string = pa.string()
        self._commit_table(pa.table(
            {
                "stream_id": pa.array([stream_id] * n, string),
                "message_id": pa.array([nm.message_id for nm in messages], string),
                "type": pa.array([nm.type for nm in messages], string),
                "json_data": pa.array([nm.json_data for nm in messages], string),
                "json_metadata": pa.array([nm.json_metadata for nm in messages], string),
                "created_utc": pa.array([created_utc] * n, pa.timestamp("us")),
            }
        ))
        if stream_id in self._ids_cache:
            self._ids_cache[stream_id].extend(nm.message_id for nm in messages)
        s = self._manifest["streams"][stream_id]
        return s["version"], s["position"]

    def _commit_table(self, tbl, order_col: str | None = None) -> tuple[int, int]:
        """The driver-side commit writer: one pyarrow Parquet file and one
        manifest patch for a (multi-stream) Arrow table of messages.

        ``tbl`` carries stream_id, message_id, type, json_data,
        json_metadata and created_utc (naive UTC, or tz-aware), plus
        ``order_col`` when given. Rows are stable-sorted by
        (stream_id, order_col) with nulls first — Spark's ascending
        order, so this path lays out positions as bulk_append's Spark
        path does; without ``order_col`` the rows must be one stream's
        messages in append order and are kept as given. They then take
        positions head+1.. and continue each stream's version from its
        manifest head. Runs under the caller's ``_write_lock``; an empty
        table commits nothing. Returns (n_rows, new_head)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n = tbl.num_rows
        base = self._manifest["head_position"]
        if n == 0:
            return 0, base
        if order_col is not None:
            keys = [("stream_id", "ascending"), (order_col, "ascending")]
            tbl = tbl.take(
                pc.sort_indices(tbl, sort_keys=keys, null_placement="at_start")
            )
        # rows of one stream are now one contiguous block: its first row
        # index and length give its positions and versions
        streams = self._manifest["streams"]
        blocks: dict[str, list[int]] = {}
        versions = []
        for i, sid in enumerate(tbl.column("stream_id").to_pylist()):
            block = blocks.get(sid)
            if block is None:
                block = blocks[sid] = [i, 0]
                s = streams.get(sid)
                v = s["version"] if s else -1
            block[1] += 1
            v += 1
            versions.append(v)
        cols = {
            "position": pa.array(range(base + 1, base + n + 1), pa.int64()),
            "stream_version": pa.array(versions, pa.int32()),
        }
        schema = _commit_schema()
        arrays = []
        for f in schema:
            col = cols[f.name] if f.name in cols else tbl.column(f.name)
            if col.null_count and not f.nullable:
                raise ValueError(f"{f.name} must not be null")
            # a tz-aware created_utc casts to naive UTC
            arrays.append(col if col.type == f.type else col.cast(f.type))
        table = pa.Table.from_arrays(arrays, schema=schema)
        # Unique suffix: the data write happens BEFORE the flock+CAS
        # manifest swap, so a stale handle racing a committed writer
        # would otherwise clobber the winner's file (both compute the
        # same version+position from the same loaded manifest) — the
        # CAS would reject the loser's manifest but the winner's
        # bytes would already be gone. The loser's uniquely-named
        # orphan is invisible to manifest-scoped readers and swept by
        # compact().
        fname = (
            f"batch-{self._manifest['version'] + 1:08d}-{base + n:012d}"
            f"-{_uuid.uuid4().hex[:8]}.parquet"
        )
        pq.write_table(table, os.path.join(self._data_dir, fname))
        return self._commit_blocks(blocks, [fname])

    def _commit_blocks(self, blocks: dict, files: list[str]) -> tuple[int, int]:
        """Advance the heads for a batch already written to ``files`` and
        commit it as ONE delta-log patch. ``blocks`` maps each stream to
        (first row index, row count) of its contiguous block in the
        batch, whose rows hold positions head+1.. in index order. Only
        the touched stream heads, the new files, the global head and the
        sink epoch markers travel to disk: the markers ride in the same
        patch as the data, so a reopened handle sees exactly the epochs
        whose rows it holds. Returns (n_rows, new_head)."""
        base = self._manifest["head_position"]
        streams = self._manifest["streams"]
        touched = {}
        n_rows = 0
        new_head = base
        for sid, (first, count) in blocks.items():
            old = streams.get(sid)
            p_max = base + first + count
            streams[sid] = touched[sid] = {
                "version": (old["version"] if old else -1) + count,
                "position": p_max,
                "first_position": (
                    old["first_position"]
                    if old and old["first_position"] is not None
                    else base + first + 1
                ),
                "count": (old["count"] if old else 0) + count,
            }
            n_rows += count
            new_head = max(new_head, p_max)
        self._manifest["files"].extend(files)
        self._manifest["head_position"] = new_head
        patch = {
            "streams": {sid: dict(s) for sid, s in touched.items()},
            "files_add": files,
            "head_position": new_head,
        }
        if "sink_epochs" in self._manifest:
            patch["sink_epochs"] = dict(self._manifest["sink_epochs"])
        self._save_manifest(patch=patch)
        if self.on_appended:
            self.on_appended()
        return n_rows, new_head

    def _delete_stream_rows(self, stream_id) -> bool:
        self._assert_writable()
        s = self._manifest["streams"].pop(stream_id, None)
        self._ids_cache.pop(stream_id, None)
        if s is None:
            return False
        had_rows = s["count"] > 0
        if s.get("position") is not None:
            # cutoff = the stream's own head position: every stored row of
            # the stream is <= it, and any future append lands above the
            # global head, so a re-created stream is fully visible.
            # Recorded even when count == 0: the rows may all be logically
            # deleted via per-message filters, which the pop below drops —
            # without the cutoff they would physically reappear.
            self._manifest["deleted_streams"][stream_id] = s["position"]
        self._manifest["deleted_messages"].pop(stream_id, None)
        self._save_manifest()
        return had_rows

    def _purge_victims(self, stream_id, message_ids) -> None:
        """Batched max-count purge: every victim lands in ONE manifest
        commit plus (with deletion tracking) one batched tombstone
        append — the base class default costs a manifest fsync + a
        $deleted commit PER victim, which made a 100-message append to a
        max_count=10 stream ~200 fsyncs (bench append_maxcount row:
        57.7 s for 2,000 messages before this override)."""
        if not message_ids:
            return
        with self._write_lock:
            ids = self._stream_stored_ids(stream_id)
            present = set(ids)
            doomed = [m for m in message_ids if m in present]
            if not doomed:
                return
            dm = self._manifest["deleted_messages"].setdefault(stream_id, [])
            self._manifest_dirty = True  # the carrying commit must snapshot
            for mid in doomed:
                ids.remove(mid)
                dm.append(mid)
            s = self._manifest["streams"].get(stream_id)
            if s:
                s["count"] = max(0, s["count"] - len(doomed))
            if self.track_deletions:
                import json as _json

                from sqlstreamstore_spark.functions.uuid5 import uuid5_py
                from sqlstreamstore_spark.schema import (
                    DELETED_STREAM_ID,
                    ExpectedVersion,
                    MESSAGE_DELETED_TYPE,
                )

                tombstones = [
                    NewStreamMessage(
                        uuid5_py(f"$message-deleted:{stream_id}:{mid}"),
                        MESSAGE_DELETED_TYPE,
                        _json.dumps(
                            {"StreamId": stream_id, "MessageId": mid},
                            separators=(",", ":"),
                        ),
                    )
                    for mid in doomed
                ]
                # the tombstone commit also persists the deletion sets
                self._append_internal(DELETED_STREAM_ID, ExpectedVersion.ANY, tombstones)
            else:
                self._save_manifest()

    def _delete_message_row(self, stream_id, message_id) -> bool:
        self._assert_writable()
        ids = self._stream_stored_ids(stream_id)
        if message_id not in ids:
            return False
        ids.remove(message_id)
        self._manifest["deleted_messages"].setdefault(stream_id, []).append(message_id)
        s = self._manifest["streams"].get(stream_id)
        if s:
            s["count"] = max(0, s["count"] - 1)
        self._save_manifest()
        return True

    def _list_stream_ids(self, pattern, kind, max_count, continuation):
        rows = []
        for sid, s in self._manifest["streams"].items():
            if sid.startswith("$") or s["first_position"] is None:
                continue
            if pattern and kind == "startswith" and not sid.startswith(pattern):
                continue
            if pattern and kind == "endswith" and not sid.endswith(pattern):
                continue
            if s["first_position"] <= continuation:
                continue
            rows.append((sid, s["first_position"]))
        rows.sort(key=lambda r: r[1])
        return rows[:max_count]

    def _point_json_data(self, stream_id, message_id):
        import pyarrow.dataset as ds

        m = self._manifest
        if message_id in m["deleted_messages"].get(stream_id, []):
            return None
        flt = (ds.field("stream_id") == stream_id) & (ds.field("message_id") == message_id)
        cutoff = m["deleted_streams"].get(stream_id)
        if cutoff is not None:
            flt = flt & (ds.field("position") > cutoff)
        tbl = self._stream_point_scan(stream_id, flt, ["json_data"])
        return tbl.column("json_data")[0].as_py() if tbl.num_rows else None

    # ------------------------------------------------------------ bulk load

    def bulk_append(
        self, new_messages, order_col: str, allow_existing: bool = False
    ) -> tuple[int, int]:
        """Scale ingestion path: append a whole batch of messages in ONE
        commit. ``new_messages`` is either

          - a Spark DataFrame, written entirely through Spark — message
            bytes never touch the driver (only per-stream head
            aggregates do, O(#streams)); or
          - a ``pyarrow.Table`` already on the driver (the streaming
            sink's small micro-batches), written by the driver-side
            commit writer as one Parquet file — no Spark job at all.

        Columns: stream_id, message_id, type, json_data, json_metadata,
        created_utc(timestamp), plus `order_col` defining intra-stream
        order. By default target streams must be NEW (the per-message
        §2.3 idempotency matrix is the transactional API's job; bulk
        load is for migration/backfill — mirrored by the reference's
        absence of any bulk path, its LoadTests just loop appends).
        ``allow_existing=True`` continues versions from each stream's
        current head — the streaming-ingestion contract
        (streaming/sink.py), which does NOT run idempotency checks
        (ANY-with-fresh-ids semantics).

        Both inputs give the same store: positions head+1.. in
        (stream_id, order_col) order (nulls first), versions continuing
        each stream's head. A DataFrame goes through the two-phase dense
        index (no single-partition funnel); a table is stable-sorted on
        the driver. Returns (n_rows, new_head); an empty table commits
        nothing.
        """
        import pyarrow as pa

        self._assert_writable()
        # same serialized-writer guarantee as the transactional API —
        # the streaming sink invokes this from the micro-batch thread
        # while the owning application may append on its own thread.
        with self._write_lock:
            if not isinstance(new_messages, pa.Table):
                return self._bulk_append_locked(new_messages, order_col, allow_existing)
            sids = new_messages.column("stream_id").unique().to_pylist()
            existing = sorted(s for s in sids if s in self._manifest["streams"])
            if existing and not allow_existing:
                raise ValueError(f"bulk_append targets existing streams: {existing[:5]}")
            result = self._commit_table(new_messages, order_col)
            for sid in sids:
                self._ids_cache.pop(sid, None)
            return result

    def _bulk_append_locked(
        self, new_messages, order_col: str, allow_existing: bool
    ) -> tuple[int, int]:
        from sqlstreamstore_spark.operators.positions import dense_global_index_pinned

        df = new_messages
        base = self._manifest["head_position"]
        # r13 (VERDICT r12 #4 — fold the per-commit jobs): the dense
        # index's partition-counts job now returns per-(pid, stream)
        # counts instead of a distinct-stream set. stream_id is the
        # FIRST order column, so each stream's rows occupy a contiguous
        # __idx block whose first index and length are derivable
        # driver-side from those counts alone — which kills BOTH
        # follow-up jobs the commit used to pay: the per-stream
        # min(__idx) aggregate inside the write job (replaced by one
        # broadcast of the driver-computed plan) and the whole
        # heads READ-BACK job after the write (heads are pure
        # arithmetic over (first_idx, count, base)). Per-commit jobs:
        # 3 → 2; the remaining two are the layout job and the write.
        indexed, pinned, pid_stream_counts = dense_global_index_pinned(
            df, ["stream_id", order_col], index_col="__idx",
            group_counts="stream_id",
        )
        # (pid, stream, count) rows arrive in GLOBAL index order —
        # running total = each stream's first global index
        stream_first: dict = {}
        stream_count: dict = {}
        acc = 0
        for _pid, sid, cnt in pid_stream_counts:
            if sid not in stream_first:
                stream_first[sid] = acc
            stream_count[sid] = stream_count.get(sid, 0) + int(cnt)
            acc += int(cnt)
        existing = sorted(
            s for s in stream_count if s in self._manifest["streams"]
        )
        if existing and not allow_existing:
            if pinned is not None:
                pinned.unpersist()
            raise ValueError(f"bulk_append targets existing streams: {existing[:5]}")
        base_versions = {
            sid: self._manifest["streams"][sid]["version"] for sid in existing
        }
        # Stream versions WITHOUT a per-stream window OR a per-stream
        # aggregate: version = __idx − first_idx + base, with first_idx
        # from the driver-side plan (contiguous-block arithmetic above).
        # The old Window.partitionBy(stream_id) funneled a HOT stream's
        # entire batch through one task (the exact skew a single-feed
        # 100 TB backfill hits); the plan broadcast is O(#streams) —
        # the same bound the manifest already holds driver-side.
        plan = self.spark.createDataFrame(
            [
                (sid, stream_first[sid], base_versions.get(sid))
                for sid in stream_count
            ],
            "stream_id string, __first_idx long, __base_version int",
        )
        positioned = indexed.join(F.broadcast(plan), "stream_id").select(
            (F.col("__idx") + F.lit(base + 1)).alias("position"),
            "stream_id",
            (
                F.col("__idx") - F.col("__first_idx")
                + F.coalesce(F.col("__base_version") + F.lit(1), F.lit(0))
            ).cast("int").alias("stream_version"),
            "message_id",
            F.col("created_utc").cast("timestamp").alias("created_utc"),
            "type",
            "json_data",
            "json_metadata",
        )
        # Unique suffix, not the manifest version: a failed attempt (crash
        # between the parquet write and _save_manifest, heads collect
        # failure, ConcurrentWriteError) must leave an orphan that never
        # collides with the retry — the streaming sink replays epochs on
        # exactly this path. Orphans are unreferenced by the manifest and
        # reclaimed by compact().
        sub = os.path.join(
            self._data_dir,
            f"bulk-{self._manifest['version'] + 1:08d}-{_uuid.uuid4().hex[:8]}",
        )
        try:
            positioned.write.parquet(sub)
        finally:
            # release the dense-index pin once the write has consumed it —
            # repeated bulk ingestions must not accumulate cached
            # partitions for the session lifetime (ADVICE r1).
            if pinned is not None:
                pinned.unpersist()
        files = [
            os.path.join(os.path.basename(sub), fn)
            for fn in sorted(os.listdir(sub))
            if fn.endswith(".parquet")
        ]
        # r13: heads are ARITHMETIC over the already-collected per-stream
        # (first_idx, count) plan — so the read-back job over the
        # just-written parquet is gone.
        for sid in stream_count:
            self._ids_cache.pop(sid, None)
        return self._commit_blocks(
            {sid: (stream_first[sid], c) for sid, c in stream_count.items()}, files
        )

    # ---------------------------------------------------------- maintenance

    def scavenge(self, now: _dt.datetime | None = None) -> dict:
        """Whole-store retention pass: every stream's max-count overflow
        plus every max-age-expired message, found in one distributed
        window/join pass each and recorded as logical deletes in a
        single manifest commit — the batch form of the reference's
        per-append async scavenge queue (Infrastructure/TaskQueue.cs,
        Scavenge.sql), which loops per stream. Run compact() afterwards
        to reclaim the bytes physically.

        Returns {"max_count_victims": n, "expired_victims": n}. The
        victim list reaches the driver (it feeds the manifest's deletion
        sets, the same O(deletes) the reference writes per scavenge);
        for a severely-neglected 100 TB store run compact() directly —
        it applies the same predicates without materializing victims.
        """
        self._assert_writable()
        from sqlstreamstore_spark.operators.retention import (
            expire_all_victims_df,
            scavenge_all_victims_df,
            stream_meta_df,
        )

        with self._write_lock:
            log = self.log_df()
            meta = stream_meta_df(log)
            count_victims = scavenge_all_victims_df(log, meta).collect()
            expire_victims = expire_all_victims_df(
                log, meta, now or self.get_utc_now()
            ).collect()
            seen: set[tuple[str, str]] = set()
            n_count, n_age = 0, 0
            for rows, is_count in ((count_victims, True), (expire_victims, False)):
                for r in rows:
                    key = (r.stream_id, r.message_id)
                    if key in seen:
                        continue
                    seen.add(key)
                    self._manifest["deleted_messages"].setdefault(
                        r.stream_id, []
                    ).append(r.message_id)
                    s = self._manifest["streams"].get(r.stream_id)
                    if s:
                        s["count"] = max(0, s["count"] - 1)
                    self._ids_cache.pop(r.stream_id, None)
                    if is_count:
                        n_count += 1
                    else:
                        n_age += 1
            if seen:
                # the deletion sets just mutated: whichever commit runs
                # next (the tombstone append, or the save below) must be
                # a full snapshot so the sets are durable with it — the
                # same crash semantics as the pre-delta-log full dumps
                self._manifest_dirty = True
                if self.track_deletions:
                    # One batched $deleted append for the whole pass —
                    # same audit trail as the per-append purge path
                    # (reference DeleteEventInternal appends a
                    # $message-deleted tombstone per victim), without
                    # N single-message commits.
                    import json as _json

                    from sqlstreamstore_spark.functions.uuid5 import uuid5_py
                    from sqlstreamstore_spark.schema import (
                        DELETED_STREAM_ID,
                        ExpectedVersion,
                        MESSAGE_DELETED_TYPE,
                    )

                    tombstones = [
                        NewStreamMessage(
                            uuid5_py(f"$message-deleted:{sid}:{mid}"),
                            MESSAGE_DELETED_TYPE,
                            _json.dumps(
                                {"StreamId": sid, "MessageId": mid},
                                separators=(",", ":"),
                            ),
                        )
                        for sid, mid in sorted(seen)
                    ]
                    self._append_internal(
                        DELETED_STREAM_ID, ExpectedVersion.ANY, tombstones
                    )
                self._save_manifest()
            return {"max_count_victims": n_count, "expired_victims": n_age}

    def compact(self, target_files: int | None = None, layout: str = "by_position") -> None:
        """Apply deletion sets physically and merge small commit files:
        rewrite the live log into ~target_files Parquet files, then swap
        the manifest. The analog of the reference's async purge/scavenge
        queue (Infrastructure/TaskQueue.cs) as an explicit maintenance
        operation.

        layout picks which access path gets row-group pruning (the
        columnar substitute for the reference's two covering indexes,
        Tables.sql:42-46 — SURVEY.md §4 "dual-sorted copies"):
          - "by_position": range-partition + sort on position → global
            scans (ReadAll, subscriptions) prune to the position range;
          - "by_stream": range-partition on (stream_id, stream_version)
            → per-stream reads touch only that stream's files/row-groups.
        """
        self._assert_writable()
        if layout not in ("by_position", "by_stream"):
            raise ValueError(f"unknown layout {layout!r}")
        sort_cols = (
            ["position"] if layout == "by_position" else ["stream_id", "stream_version"]
        )
        import shutil

        live = self.log_df()
        tmp_dir = os.path.join(self.path, f"compact-{_uuid.uuid4().hex}")
        n = target_files or max(1, self.spark.sparkContext.defaultParallelism)
        try:
            live.repartitionByRange(n, *sort_cols).sortWithinPartitions(
                *sort_cols
            ).write.parquet(tmp_dir)
            # Unique tag, as for batch-/bulk- files: the renames below
            # happen BEFORE the manifest CAS, so two handles compacting at
            # the same version would otherwise replace each other's
            # outputs and the CAS winner's manifest could point at the
            # loser's bytes.
            tag = _uuid.uuid4().hex[:8]
            new_files = []
            for i, fn in enumerate(sorted(os.listdir(tmp_dir))):
                if not fn.endswith(".parquet"):
                    continue
                new_name = (
                    f"compacted-{self._manifest['version']:08d}-{tag}-{i:05d}.parquet"
                )
                os.replace(
                    os.path.join(tmp_dir, fn), os.path.join(self._data_dir, new_name)
                )
                new_files.append(new_name)
            old_files = list(self._manifest["files"])
            self._manifest["files"] = new_files
            self._manifest["deleted_streams"] = {}
            self._manifest["deleted_messages"] = {}
            self._save_manifest()
        finally:
            # the temp dir holds only Spark's _SUCCESS/.crc leftovers once
            # the renames ran; a write or CAS failure must not leak it
            shutil.rmtree(tmp_dir, ignore_errors=True)
        for fn in old_files:
            try:
                os.remove(os.path.join(self._data_dir, fn))
            except OSError:
                pass
        # Sweep orphans the manifest never owned (e.g. a failed
        # bulk_append job's partial output): readers are manifest-scoped
        # so orphans are invisible, but they waste space until compacted.
        owned = {os.path.normpath(f) for f in new_files}
        for entry in os.listdir(self._data_dir):
            p = os.path.join(self._data_dir, entry)
            if os.path.isdir(p):
                if not any(o.startswith(entry + os.sep) for o in owned):
                    shutil.rmtree(p, ignore_errors=True)
            elif entry.endswith(".parquet") and entry not in owned:
                try:
                    os.remove(p)
                except OSError:
                    pass
