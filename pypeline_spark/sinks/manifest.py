r"""Manifest-committed parquet table: atomic writes, snapshot reads,
and exactly-once batch application on a plain filesystem.

The reference gets crash-safety from per-batch DB transactions
(ref: /root/reference/pypeline/Pype.py:147-148 — fetch, merge, commit,
repeat).  The keyed sinks here (`sinks/keyed.py`) are idempotent but a
plain ``parquet overwrite`` is not atomic: a reader racing the write
can see a half-written directory, and a crash mid-write corrupts the
table.  Lakehouse formats solve this with a transaction log; this
module implements the minimal core of that idea — no jars, pure
public-knowledge design (the same commit protocol Iceberg/Delta use):

- data files are IMMUTABLE and write-once; a table version is a JSON
  **manifest** naming exactly the files that are live;
- a commit writes new data files to the data directory (invisible —
  nothing references them yet), then publishes by an atomic
  put-if-absent of the versioned manifest file (``os.link`` of a
  complete temp file — the local equivalent of an object store's
  conditional PUT).  Readers see the old complete version or the new
  complete version, never a mix — and a CONCURRENT writer racing for
  the same version slot is DETECTED (:class:`CommitConflict`) instead
  of silently clobbered: blind delta appends and metadata-only commits
  rebase onto the new tip with bounded retries, rewrites abort
  (Delta's conflict matrix in miniature — ``_commit_retrying``);
- every manifest records the ``batch_id``s already applied, so a
  foreachBatch replay after a crash is DETECTED and skipped —
  exactly-once on top of at-least-once delivery, the same contract
  ``txnAppId``/``txnVersion`` gives Delta sinks;
- old versions remain readable until ``vacuum`` (time travel for
  free, bounded by retention).

At real scale the manifest lists object-store keys and the publish is
the same conditional PUT (or a log-append); the protocol is identical
— commit visibility rides on ONE atomic metadata operation, never on
N file operations.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
import weakref
from collections import OrderedDict
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

# Relation memo (r19, guide §5/§6): re-resolving the SAME fileset under
# the SAME read schema repeats a driver-side DataSource resolution
# (file listing + relation construction — measured ~40-60ms per call
# here, and a listing round trip per file on object storage; a lakehouse
# query re-reads hot filesets 3-6x).  Data files are uuid4-named at
# write and never reused or mutated in place, so (paths, schema) keys
# an immutable relation and the memo is METADATA-plane only: every
# action on the returned DataFrame still scans the files.  Keyed weakly
# per SparkSession so a restarted session cannot serve dead JVM
# handles; bounded LRU per session.
_RELATION_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_RELATION_MEMO_CAP = 128


def _memo_read(
    spark: SparkSession, schema, paths: Sequence[str]
) -> DataFrame:
    """``schema=None`` memoizes an INFERRED-schema read (r20): raw
    delta/CDC filesets carry physical names plus internal markers no
    manifest schema describes, so their reads must infer — a blocking
    footer job per call.  The fileset is uuid4-immutable like every
    data file, so the first inference is also the last; repeats within
    a query (and across pipeline steps reading the same version's
    deltas) hit the memo."""

    def _read() -> DataFrame:
        if schema is None:
            return spark.read.parquet(*paths)
        return spark.read.schema(schema).parquet(*paths)

    try:
        # purge stopped sessions first: a cached DataFrame holds its
        # session strongly, so WeakKeyDictionary collection alone can
        # never fire — without this a long-lived process cycling
        # sessions would pin every dead session's JVM handles (ADVICE
        # r19).  Note the memo also freezes first-read listing results:
        # an externally deleted file surfaces at scan time as
        # FileNotFound rather than at read time (fine under the
        # uuid4-immutable file contract; noted per ADVICE r19).
        from pypeline_spark.session import _purge_stopped_sessions

        _purge_stopped_sessions(_RELATION_MEMO)
        per = _RELATION_MEMO.get(spark)
        if per is None:
            per = _RELATION_MEMO[spark] = OrderedDict()
    except TypeError:  # un-weakref-able session stub (tests)
        return _read()
    key = (tuple(paths), schema.json() if schema is not None else None)
    df = per.get(key)
    if df is None:
        df = _read()
        per[key] = df
        if len(per) > _RELATION_MEMO_CAP:
            per.popitem(last=False)
    else:
        per.move_to_end(key)
    return df


class ConstraintViolation(ValueError):
    """A batch (or, for ``add_check_constraint``, the current table
    content) violates a declared CHECK or NOT NULL constraint.  Raised
    BEFORE any data file lands — the commit never becomes visible
    (Delta invariant semantics: constraints gate the write, readers
    never see a violating row)."""


class StaleBatchReplay(ValueError):
    """A commit's batch id falls at or below the per-stream high-water
    mark of ids already EXPIRED from the bounded ledger: whether it was
    applied can no longer be proven by membership, and its sequence
    number says it predates retention — applying it could double-write.
    Rejected loudly (the r15 directive) instead of Delta's documented
    silent-double-apply hazard past ``setTransaction`` retention."""


class CommitConflict(RuntimeError):
    """A concurrent writer published the version this commit was about
    to take.  Raised by :meth:`ManifestTable._publish` when the
    put-if-absent create of the versioned manifest file loses the race
    (the lost-update a plain ``os.replace`` could never see), and
    re-raised by commit methods whose semantics cannot be rebased onto
    the new tip — see the conflict matrix in
    :meth:`ManifestTable._commit_retrying`."""


class ProtocolTooNew(RuntimeError):
    """A commit record is stamped with a protocol version HIGHER than
    this build reads.  Deliberately NOT a ``ValueError``: the manifest
    code catches ``ValueError`` in many places to mean "record removed
    by a racing vacuum — fall back", and a protocol mismatch riding
    that path would be silently misparsed (served as a manifest, or —
    worse — treated by vacuum/GC as a nonexistent version whose data
    files are dead).  Every reader must fail LOUDLY on it (ADVICE
    r16)."""


class ManifestTable:
    """A versioned parquet table committed via an atomic manifest swap."""

    #: bounded optimistic retry under concurrent write contention
    OCC_MAX_RETRIES = 16

    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.data_dir, exist_ok=True)
        self.occ_max_retries = self.OCC_MAX_RETRIES
        # SHALLOW CLONE support: extra data roots this table may
        # resolve file names against (the clone source's data dirs,
        # recorded once at clone_to time — see _path).  Absent for
        # ordinary tables: zero overhead on their path resolution.
        clone_sidecar = os.path.join(root, "_clone_roots.json")
        if os.path.exists(clone_sidecar):
            with open(clone_sidecar) as fh:
                self._external_roots: list[str] = json.load(fh)["roots"]
        else:
            self._external_roots = []
        # Per-instance cache of MATERIALIZED manifests keyed by
        # version (the Delta SnapshotManagement shape): version
        # records are immutable once linked, so a hit skips the
        # checkpoint parse + replay entirely.  Each entry is
        # stat-validated against its record file's (mtime_ns, size) —
        # an on-disk edit (test fixtures) or a vacuum removal drops
        # the entry, so behavior is bit-identical to the uncached
        # path.  CONTRACT: materialized manifests are IMMUTABLE —
        # every commit path builds a fresh dict; nothing in this
        # module (audited) mutates one in place.
        self._mat_cache: dict = {}
        # per-(version, stat-key) vectorized prune index (r17 #4)
        self._prune_idx: dict = {}
        # Test-only deterministic race injection: a zero-arg callable
        # fired ONCE immediately before the next publish attempt (i.e.
        # inside the read-modify-write window), so tests can place a
        # concurrent writer's commit exactly where the race happens.
        self._race_once = None

    # -- manifest bookkeeping -------------------------------------------------
    #
    # THE COMMIT LOG (r16 directive #2 — the Delta action-log shape).
    # ``_manifest.vN.json`` is a commit RECORD, one of two forms:
    #
    #   checkpoint: {"version": N, "committed_at": ts, "kind": k,
    #                "summary": {...}, "snapshot": {full manifest}}
    #   log:        {"version": N, "committed_at": ts, "kind": k,
    #                "summary": {...}, "actions": {set/del/patch/lpatch}}
    #
    # A log record stores only the DIFF against version N-1 — added/
    # removed file names, changed stats entries, appended batch ids —
    # so commit cost is O(delta), not O(files): a 10^6-file table no
    # longer serializes its whole state per commit, and retained
    # history is O(versions × delta + checkpoints), not O(versions ×
    # files).  A full snapshot is checkpointed every
    # ``CHECKPOINT_INTERVAL`` commits (and at v1), bounding the replay
    # a reader pays to O(interval) small records + one checkpoint —
    # Delta's 10-commit parquet-checkpoint cadence, in JSON.  ``kind``
    # and ``summary`` are stamped at publish so DESCRIBE HISTORY and
    # the OCC conflict matrix read records directly, materializing
    # nothing.  A file that is neither form (no "snapshot"/"actions"
    # key) is a pre-r16 LEGACY full manifest and acts as its own
    # checkpoint, so upgraded tables replay seamlessly.  ``vacuum``
    # keeps the chain sound: it writes a ``_ckpt.vN.json`` sidecar at
    # the new oldest retained version before removing older records,
    # so every retained version stays derivable (see ``vacuum``).
    # The pointer file is a tiny O(1) HINT ({"hint": true, "version":
    # N}); the versioned records are the source of truth exactly as
    # before (the put-if-absent link in ``_publish`` is the commit
    # point).

    #: full-snapshot checkpoint every K commits (v1 is always one)
    CHECKPOINT_INTERVAL = 10

    #: commit-record protocol this build READS (the Delta
    #: minReaderVersion shape): 1 = pre-r16 full-snapshot manifests
    #: (implied by the absence of a stamp), 2 = checkpoint/log
    #: records, 3 = columnar checkpoints (JSON core + parquet file
    #: sidecar — r17 directive #3).  A record stamped HIGHER than this
    #: fails loudly instead of being misparsed by an older build.
    #: Records are stamped with the MINIMUM protocol that can read
    #: them (log records and inline-snapshot checkpoints stay 2), so a
    #: table only demands protocol 3 of its readers once a checkpoint
    #: actually goes columnar.
    PROTOCOL_VERSION = 3

    #: checkpoints whose file list is at least this long store the
    #: per-file state (names, stats min/max, filemeta, bloom hex) in a
    #: compressed parquet sidecar instead of inline JSON — at 10^6
    #: files the inline form is a ~100 MB single-threaded JSON parse
    #: per cold read and per checkpoint write (the Delta
    #: parquet-checkpoint rationale).  Below the threshold the inline
    #: JSON path is both faster and older-reader compatible.
    SIDECAR_MIN_FILES = 512

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _ckpt_sidecar(self, version: int) -> str:
        return os.path.join(self.root, f"_ckpt.v{version}.json")

    def _load_ckpt_sidecar(self, path: str) -> dict:
        """Read a vacuum-horizon sidecar: either a full JSON manifest
        (small tables / pre-r17) or — above SIDECAR_MIN_FILES — a
        columnar wrapper {"snapshot_core", "sidecar", ...} whose
        per-file state lives in the same parquet form the commit
        checkpoints use (a vacuumed parquet file raises ValueError,
        the not-derivable class)."""
        with open(path) as fh:
            d = json.load(fh)
        if "snapshot_core" in d:
            return self._load_parquet_checkpoint(d)
        return d

    @staticmethod
    def _is_record(rec: dict) -> bool:
        """True for a commit RECORD (inline snapshot, columnar
        checkpoint core, or action diff) as opposed to a pre-r16
        legacy full manifest."""
        return (
            "snapshot" in rec
            or "snapshot_core" in rec
            or "actions" in rec
        )

    def _record_snapshot(self, rec: dict) -> Optional[dict]:
        """The full manifest a record carries, or None for a log
        record: ``snapshot`` for inline checkpoints, ``snapshot_core``
        + parquet ``sidecar`` for columnar checkpoints (reconstructed
        here — raises ValueError if the sidecar was vacuumed, the same
        class as a missing record so every racing-removal fallback
        treats it identically), the record itself for a pre-r16 legacy
        full manifest."""
        if "snapshot" in rec:
            return rec["snapshot"]
        if "snapshot_core" in rec:
            return self._load_parquet_checkpoint(rec)
        if "actions" in rec:
            return None
        return rec

    # -- columnar checkpoints (r17 directive #3) --------------------------------

    @staticmethod
    def _stats_min_max_typed(entries: list) -> dict:
        """Best-effort TYPED projection columns for the sidecar —
        ``min#<col>`` / ``max#<col>`` / ``bloom#<col>`` — so a
        columnar consumer (external scanner, the prune planner at a
        checkpoint boundary) reads data-skipping stats with pure
        column projection, never touching the JSON.  A column whose
        min/max values mix incompatible python types across files is
        skipped (reconstruction never reads these — the per-file JSON
        column is the exact-round-trip source of truth)."""
        cols: dict[str, list] = {}
        for entry in entries:
            if not entry:
                continue
            for c, v in entry.items():
                if c in ("bloom", "bloom_v"):
                    continue
                if isinstance(v, (list, tuple)) and len(v) == 2:
                    cols.setdefault(c, [])
        out: dict[str, list] = {}
        for c in cols:
            mins, maxs = [], []
            for entry in entries:
                v = (entry or {}).get(c)
                if isinstance(v, (list, tuple)) and len(v) == 2:
                    mins.append(v[0])
                    maxs.append(v[1])
                else:
                    mins.append(None)
                    maxs.append(None)
            tset = {type(x) for x in mins + maxs if x is not None}
            if tset <= {int} or tset <= {float} or tset <= {str} or tset <= {bool}:
                out[f"min#{c}"] = mins
                out[f"max#{c}"] = maxs
        blooms = [
            (entry or {}).get("bloom") or {} for entry in entries
        ]
        bcols = {c for b in blooms for c in b}
        for c in sorted(bcols):
            out[f"bloom#{c}"] = [b.get(c) for b in blooms]
        if any("bloom_v" in (e or {}) for e in entries):
            out["bloom_v"] = [(e or {}).get("bloom_v") for e in entries]
        return out

    @staticmethod
    def _stats_from_typed(files: list, typed: dict) -> dict:
        """Rebuild the per-file stats dict from the typed sidecar
        columns — the read fast path.  Only trusted when the WRITER
        verified the rebuild equals the original (``sidecar_typed``
        flag): anything the typed columns cannot express exactly
        (mixed value types, [None, None] envelopes, nested extras)
        fails that verify and rides the JSON columns instead."""
        scols = sorted(
            c[len("min#"):] for c in typed if c.startswith("min#")
        )
        bcols = sorted(
            c[len("bloom#"):] for c in typed if c.startswith("bloom#")
        )
        bver = typed.get("bloom_v")
        entries: list = [None] * len(files)
        # column-major fill: one tight zip pass per stats column (no
        # per-cell key formatting / dict lookups — this is the cold
        # checkpoint-read hot loop at 10^5+ files)
        for c in scols:
            mn_l = typed[f"min#{c}"]
            mx_l = typed[f"max#{c}"]
            for i, (mn, mx) in enumerate(zip(mn_l, mx_l)):
                if mn is not None or mx is not None:
                    e = entries[i]
                    if e is None:
                        e = entries[i] = {}
                    e[c] = [mn, mx]
        for c in bcols:
            for i, v in enumerate(typed[f"bloom#{c}"]):
                if v is not None:
                    e = entries[i]
                    if e is None:
                        e = entries[i] = {}
                    e.setdefault("bloom", {})[c] = v
        if bver is not None:
            for i, v in enumerate(bver):
                if v is not None:
                    e = entries[i]
                    if e is None:
                        e = entries[i] = {}
                    e["bloom_v"] = v
        return {f: e for f, e in zip(files, entries) if e is not None}

    def _write_parquet_checkpoint(self, manifest: dict) -> tuple[dict, str, list, dict]:
        """Split ``manifest`` into a small JSON core (everything but
        the per-file state) and a zstd parquet sidecar holding one row
        per file.  Stats land as TYPED ``min#<col>``/``max#<col>``/
        ``bloom#<col>`` columns and filemeta as ``fm_bytes``/
        ``fm_rows`` whenever a write-time verify proves the typed
        rebuild is bit-identical to the source dicts (the common case
        — every fileset this module writes); anything the typed form
        cannot express exactly falls back to per-file JSON columns.
        Returns ``(core, sidecar_name, present_keys, typed_flags)``;
        the sidecar is uniquely named per publish attempt (two
        same-slot racers never collide) and the loser removes its own
        file on CommitConflict."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = manifest.get("files", [])
        stats = manifest.get("stats", {})
        filemeta = manifest.get("filemeta", {})
        entries = [stats.get(f) for f in files]
        data: dict = {"name": list(files)}
        typed_flags = {"stats": False, "filemeta": False}
        # stats/filemeta may reference names outside the file list
        # (hypothesis-synthesized manifests; defensive) — those ride
        # dedicated JSON rows and force the JSON path for their map
        extra = sorted((set(stats) | set(filemeta)) - set(files))

        typed = self._stats_min_max_typed(entries)
        if typed and not (set(stats) - set(files)):
            rebuilt = self._stats_from_typed(files, typed)
            want = {f: e for f, e in zip(files, entries) if e is not None}
            if rebuilt == want:
                typed_flags["stats"] = True
                data.update(typed)
        if not typed_flags["stats"]:
            data["stats_json"] = [
                json.dumps(e, sort_keys=True) if e is not None else None
                for e in entries
            ]

        def _int_ok(x, none_ok=False):
            if x is None:
                return none_ok
            return isinstance(x, int) and not isinstance(x, bool)

        fm_vals = [filemeta.get(f) for f in files]
        _FM_OPT = ("schema_v", "base_row_id", "row_id_phys")
        if not (set(filemeta) - set(files)) and all(
            v is None
            or (
                {"bytes", "rows"} <= set(v) <= {"bytes", "rows", *_FM_OPT}
                and _int_ok(v["bytes"])
                and _int_ok(v["rows"], none_ok=True)
                and _int_ok(v.get("schema_v", 0))
                and _int_ok(v.get("base_row_id", 0))
                and v.get("row_id_phys", True) is True
            )
            for v in fm_vals
        ):
            typed_flags["filemeta"] = True
            data["fm_present"] = [v is not None for v in fm_vals]
            data["fm_bytes"] = [
                v["bytes"] if v is not None else None for v in fm_vals
            ]
            data["fm_rows"] = [
                v["rows"] if v is not None else None for v in fm_vals
            ]
            for k in _FM_OPT:
                if any(v is not None and k in v for v in fm_vals):
                    data[f"fm_{k}"] = [
                        v.get(k) if v is not None else None
                        for v in fm_vals
                    ]
        else:
            data["filemeta_json"] = [
                json.dumps(v, sort_keys=True) if v is not None else None
                for v in fm_vals
            ]
        if extra:
            n = len(files)
            for k in data:
                data[k] = list(data[k]) + [None] * len(extra)
            data["extra_name"] = [None] * n + extra
            data["extra_stats_json"] = [None] * n + [
                json.dumps(stats[f], sort_keys=True) if f in stats else None
                for f in extra
            ]
            data["extra_filemeta_json"] = [None] * n + [
                json.dumps(filemeta[f], sort_keys=True)
                if f in filemeta else None
                for f in extra
            ]
        name = (
            f"_manifest.v{manifest['version']}.ckpt-{uuid.uuid4().hex}.parquet"
        )
        path = os.path.join(self.root, name)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            table = pa.table(data)
        except (pa.ArrowInvalid, OverflowError):
            # a value the arrow types can't hold (huge ints) — fall
            # back to pure JSON columns, which always can
            data = {
                "name": list(files),
                "stats_json": [
                    json.dumps(e, sort_keys=True) if e is not None else None
                    for e in entries
                ],
                "filemeta_json": [
                    json.dumps(v, sort_keys=True) if v is not None else None
                    for v in fm_vals
                ],
            }
            typed_flags = {"stats": False, "filemeta": False}
            if extra:
                n = len(files)
                for k in data:
                    data[k] = list(data[k]) + [None] * len(extra)
                data["extra_name"] = [None] * n + extra
                data["extra_stats_json"] = [None] * n + [
                    json.dumps(stats[f], sort_keys=True)
                    if f in stats else None
                    for f in extra
                ]
                data["extra_filemeta_json"] = [None] * n + [
                    json.dumps(filemeta[f], sort_keys=True)
                    if f in filemeta else None
                    for f in extra
                ]
            table = pa.table(data)
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)
        core = {
            k: v
            for k, v in manifest.items()
            if k not in ("files", "stats", "filemeta")
        }
        # exact round-trip: reconstruction must not invent a key the
        # manifest never had (an absent 'filemeta' and an empty one
        # are different dicts to the replay-equivalence verify)
        present = [
            k for k in ("files", "stats", "filemeta") if k in manifest
        ]
        return core, name, present, typed_flags

    def _load_parquet_checkpoint(self, rec: dict) -> dict:
        """Reconstruct the full manifest from a columnar checkpoint
        record: JSON core + the parquet sidecar's exact-round-trip
        columns (column-projected read — the typed min/max columns are
        never touched here).  A vacuumed sidecar raises ValueError
        ('not derivable'), the racing-removal class every caller
        already handles."""
        import pyarrow.parquet as pq

        path = os.path.join(self.root, rec["sidecar"])
        if not os.path.exists(path):
            raise ValueError(
                f"checkpoint sidecar {rec['sidecar']} not found "
                "(vacuumed?)"
            )
        cols = set(pq.read_schema(path).names)
        typed = rec.get("sidecar_typed") or {}
        want = ["name"]
        if typed.get("stats"):
            want += [
                c for c in cols
                if c.startswith(("min#", "max#", "bloom#")) or c == "bloom_v"
            ]
        elif "stats_json" in cols:
            want.append("stats_json")
        if typed.get("filemeta"):
            want += ["fm_present", "fm_bytes", "fm_rows"]
            want += [
                c for c in (
                    "fm_schema_v", "fm_base_row_id", "fm_row_id_phys"
                ) if c in cols
            ]
        elif "filemeta_json" in cols:
            want.append("filemeta_json")
        if "extra_name" in cols:
            want += ["extra_name", "extra_stats_json", "extra_filemeta_json"]
        t = pq.read_table(path, columns=sorted(set(want) & cols | {"name"}))
        names = t.column("name").to_pylist()
        files = [n for n in names if n is not None]
        stats: dict = {}
        filemeta: dict = {}
        if typed.get("stats"):
            tcols = {
                c: t.column(c).to_pylist()
                for c in t.schema.names
                if c.startswith(("min#", "max#", "bloom#")) or c == "bloom_v"
            }
            stats = self._stats_from_typed(files, tcols)
        elif "stats_json" in t.schema.names:
            for n, sj in zip(names, t.column("stats_json").to_pylist()):
                if n is not None and sj is not None:
                    stats[n] = json.loads(sj)
        if typed.get("filemeta"):
            def _opt_col(c):
                return (
                    t.column(c).to_pylist()
                    if c in t.schema.names
                    else [None] * len(names)
                )

            for n, p, b, r, sv, br, ph in zip(
                names,
                t.column("fm_present").to_pylist(),
                t.column("fm_bytes").to_pylist(),
                t.column("fm_rows").to_pylist(),
                _opt_col("fm_schema_v"),
                _opt_col("fm_base_row_id"),
                _opt_col("fm_row_id_phys"),
            ):
                if n is not None and p:
                    e = {"bytes": b, "rows": r}
                    if sv is not None:
                        e["schema_v"] = sv
                    if br is not None:
                        e["base_row_id"] = br
                    if ph is not None:
                        e["row_id_phys"] = ph
                    filemeta[n] = e
        elif "filemeta_json" in t.schema.names:
            for n, fj in zip(names, t.column("filemeta_json").to_pylist()):
                if n is not None and fj is not None:
                    filemeta[n] = json.loads(fj)
        if "extra_name" in cols:
            for n, sj, fj in zip(
                t.column("extra_name").to_pylist(),
                t.column("extra_stats_json").to_pylist(),
                t.column("extra_filemeta_json").to_pylist(),
            ):
                if n is None:
                    continue
                if sj is not None:
                    stats[n] = json.loads(sj)
                if fj is not None:
                    filemeta[n] = json.loads(fj)
        manifest = dict(rec["snapshot_core"])
        present = rec.get(
            "sidecar_keys", ["files", "stats", "filemeta"]
        )
        if "files" in present:
            manifest["files"] = files
        if "stats" in present:
            manifest["stats"] = stats
        if "filemeta" in present:
            manifest["filemeta"] = filemeta
        return manifest

    def _load_record(self, version: int) -> dict:
        vfile = os.path.join(self.root, f"_manifest.v{version}.json")
        if not os.path.exists(vfile):
            raise ValueError(f"version {version} not found (vacuumed?)")
        with open(vfile) as fh:
            rec = json.load(fh)
        if int(rec.get("protocol", 1)) > self.PROTOCOL_VERSION:
            raise ProtocolTooNew(
                f"version {version} was written under commit-record "
                f"protocol {rec['protocol']}; this build reads up to "
                f"{self.PROTOCOL_VERSION} — upgrade before reading "
                "this table"
            )
        return rec

    @classmethod
    def _diff_dict(cls, prev: dict, cur: dict) -> dict:
        """Action record taking ``prev`` to ``cur``: changed scalars in
        ``set``, removed keys in ``del``, nested dicts recursively
        patched (only their changed sub-keys ride), lists as a
        remove-set + append suffix when expressible (``lpatch``) or
        whole otherwise.  ``_apply_actions`` is the exact inverse by
        construction — and ``_publish`` verifies the round-trip before
        trusting a log record, falling back to a checkpoint on any
        mismatch."""
        out_set: dict = {}
        out_del: list = []
        out_patch: dict = {}
        out_lp: dict = {}
        for k in prev:
            if k not in cur:
                out_del.append(k)
        for k, v in cur.items():
            if k in prev:
                pv = prev[k]
                if pv == v:
                    continue
            else:
                pv = None
            if isinstance(v, dict) and isinstance(pv, dict):
                out_patch[k] = cls._diff_dict(pv, v)
            elif isinstance(v, list) and isinstance(pv, list):
                out_lp[k] = cls._diff_list(pv, v)
            else:
                out_set[k] = v
        out: dict = {}
        if out_set:
            out["set"] = out_set
        if out_del:
            out["del"] = out_del
        if out_patch:
            out["patch"] = out_patch
        if out_lp:
            out["lpatch"] = out_lp
        return out

    @staticmethod
    def _diff_list(pv: list, v: list) -> dict:
        """List diff: pure append / remove-set + append when the kept
        prefix is order-preserved (every file-list edit this module
        makes), else the full value."""
        n = len(pv)
        if v[:n] == pv:
            return {"append": v[n:]}
        try:
            vset = set(v)
            pset = set(pv)
        except TypeError:
            return {"full": v}  # unhashable elements (delta filesets)
        if len(vset) != len(v) or len(pset) != len(pv):
            return {"full": v}  # duplicates: positional identity lost
        removed = [x for x in pv if x not in vset]
        kept = [x for x in pv if x in vset]
        if v[: len(kept)] == kept:
            return {"remove": removed, "append": v[len(kept):]}
        return {"full": v}

    @classmethod
    def _apply_actions(cls, prev: dict, actions: dict) -> dict:
        """Replay one log record's actions over the parent manifest.
        Copy-on-write at every patched level: untouched nested values
        are shared, so replay cost is O(record), not O(state)."""
        cur = dict(prev)
        for k in actions.get("del", ()):
            cur.pop(k, None)
        for k, sub in actions.get("patch", {}).items():
            base = cur.get(k)
            cur[k] = cls._apply_actions(
                base if isinstance(base, dict) else {}, sub
            )
        for k, p in actions.get("lpatch", {}).items():
            if "full" in p:
                cur[k] = list(p["full"])
            else:
                base = cur.get(k)
                base = list(base) if isinstance(base, list) else []
                rem = p.get("remove")
                if rem:
                    try:
                        rset = set(rem)
                    except TypeError:
                        rset = None
                    if rset is None:
                        base = [x for x in base if x not in rem]
                    else:
                        base = [x for x in base if x not in rset]
                cur[k] = base + list(p.get("append", ()))
        cur.update(actions.get("set", {}))
        return cur

    _MAT_CACHE_MAX = 32

    def _cache_get(self, version: int) -> Optional[dict]:
        ent = self._mat_cache.get(version)
        if ent is None:
            return None
        try:
            st = os.stat(
                os.path.join(self.root, f"_manifest.v{version}.json")
            )
        except OSError:
            self._mat_cache.pop(version, None)
            return None
        if (st.st_mtime_ns, st.st_size) != ent[0]:
            self._mat_cache.pop(version, None)  # record edited on disk
            return None
        return ent[1]

    def _cache_put(self, version: int, manifest: dict) -> None:
        try:
            st = os.stat(
                os.path.join(self.root, f"_manifest.v{version}.json")
            )
        except OSError:
            return
        self._mat_cache[version] = ((st.st_mtime_ns, st.st_size), manifest)
        while len(self._mat_cache) > self._MAT_CACHE_MAX:
            self._mat_cache.pop(next(iter(self._mat_cache)))

    def _materialize(self, version: int) -> dict:
        """Manifest at ``version``: walk back to the nearest
        checkpoint (snapshot record, legacy full manifest, vacuum
        sidecar, or a cached materialization), then replay the log
        records forward — O(interval) small reads + one checkpoint
        parse on a miss, one ``os.stat`` on a hit.  The returned dict
        may be cached and shared: treat it as IMMUTABLE (every commit
        path builds fresh dicts — the module-wide contract)."""
        if version == 0:
            return {"version": 0, "files": [], "deltas": [],
                    "batch_ids": [], "stats": {}}
        hit = self._cache_get(version)
        if hit is not None:
            return hit
        pending: list[dict] = []
        v = version
        while True:
            if pending:
                # mid-walk shortcuts: a cached ancestor or a vacuum
                # sidecar ends the walk early (for the requested
                # version itself the record must exist — it is what
                # makes the version valid/retained)
                hit = self._cache_get(v)
                if hit is not None:
                    base = hit
                    break
                ck = self._ckpt_sidecar(v)
                if os.path.exists(ck):
                    base = self._load_ckpt_sidecar(ck)
                    break
            rec = self._load_record(v)
            snap = self._record_snapshot(rec)
            if snap is not None:
                base = snap
                break
            if not pending:
                ck = self._ckpt_sidecar(v)
                if os.path.exists(ck):
                    base = self._load_ckpt_sidecar(ck)
                    break
            pending.append(rec["actions"])
            v -= 1
            if v == 0:
                raise ValueError(
                    f"version {version} not derivable: the commit log "
                    "below it was removed (vacuumed?)"
                )
        for a in reversed(pending):
            base = self._apply_actions(base, a)
        self._cache_put(version, base)
        return base

    def _read_manifest(self) -> dict:
        base = None
        if os.path.exists(self._pointer):
            with open(self._pointer) as fh:
                p = json.load(fh)
            if p.get("hint"):
                try:
                    base = self._materialize(p["version"])
                except ValueError:
                    # the hinted record is gone (a racing removal):
                    # the hint embeds a COPY of the tip record, so the
                    # commit it points at survives exactly as the old
                    # full-manifest pointer cache made it survive
                    base = None
                    rec = p.get("record")
                    if rec is not None and (
                        int(rec.get("protocol", 1)) > self.PROTOCOL_VERSION
                    ):
                        # the embedded copy carries the record's
                        # protocol stamp: a newer-build hint must fail
                        # loudly, not be misparsed (ADVICE r16)
                        raise ProtocolTooNew(
                            f"pointer hint embeds a record written "
                            f"under commit-record protocol "
                            f"{rec['protocol']}; this build reads up "
                            f"to {self.PROTOCOL_VERSION}"
                        )
                    if rec is not None:
                        try:
                            snap = self._record_snapshot(rec)
                        except ValueError:
                            # the embedded record is a columnar
                            # checkpoint whose sidecar went with the
                            # racing vacuum — recover from disk below
                            snap = None
                        if snap is not None:
                            base = snap
                        elif "actions" in rec:
                            try:
                                base = self._apply_actions(
                                    self._materialize(p["version"] - 1),
                                    rec["actions"],
                                )
                            except ValueError:
                                base = None
            elif "snapshot" in p or "snapshot_core" in p or "actions" in p:
                snap = self._record_snapshot(p)
                if snap is not None:
                    base = snap
                else:
                    try:
                        base = self._materialize(p["version"])
                    except ValueError:
                        base = None
            else:
                base = p  # legacy pointer: a full manifest cache
        if base is None:
            mx = self._max_version_on_disk()
            if mx:
                try:
                    base = self._materialize(mx)
                except ValueError:
                    base = {"version": 0, "files": [], "batch_ids": [],
                            "stats": {}}
            else:
                base = {"version": 0, "files": [], "batch_ids": [],
                        "stats": {}}
        # The pointer is a read CACHE; the versioned records are the
        # source of truth (the put-if-absent link in _publish is the
        # commit point).  Roll forward through any version that was
        # committed but not yet reflected — a writer crashed between
        # link and pointer refresh, or two refreshes landed out of
        # order.  One exists() check in the common case.
        while True:
            nxt = os.path.join(
                self.root, f"_manifest.v{base['version'] + 1}.json"
            )
            if not os.path.exists(nxt):
                return base
            # _load_record, not a raw json.load: a record stamped with
            # a newer protocol must raise ProtocolTooNew here instead
            # of being misparsed into a manifest (ADVICE r16).  A
            # racing vacuum between exists() and the read surfaces as
            # ValueError — the version below it is still the tip we
            # proved derivable, so serve that.
            try:
                rec = self._load_record(base["version"] + 1)
            except ValueError:
                if os.path.exists(nxt):
                    raise  # record present but unparseable: corruption
                return base
            snap = self._record_snapshot(rec)
            base = (
                snap if snap is not None
                else self._apply_actions(base, rec["actions"])
            )

    def _path(self, name: str) -> str:
        """Resolve a manifest-referenced data file name to a path:
        this table's own ``data/`` first, then — on a SHALLOW CLONE —
        each recorded source root in order.  New commits always write
        locally, so a clone's external references fade as rewrites
        materialize local copies; vacuum and GC only ever touch local
        paths, so a clone can never reap its source's files."""
        local = os.path.join(self.data_dir, name)
        if not self._external_roots or os.path.exists(local):
            return local
        for r in self._external_roots:
            p = os.path.join(r, name)
            if os.path.exists(p):
                return p
        return local  # vacuumed everywhere: fail as a local miss

    def version(self) -> int:
        return self._read_manifest()["version"]

    def dml_mode(self) -> str:
        """The ``mode`` a row-level write (MERGE / UPDATE / DELETE)
        should take on this table right now: ``'dv'`` whenever
        outstanding merge-on-read deltas make copy-on-write illegal,
        and on row-tracked tables (deletion vectors are the
        O(changed rows) shape a tracked streaming table wants);
        ``'cow'`` otherwise.  The lakehouse step and the SQL router
        both ask this."""
        m = self._read_manifest()
        return "dv" if m.get("deltas") or m.get("row_tracking") else "cow"

    def _max_version_on_disk(self) -> int:
        """Highest ``_manifest.vN.json`` present — one directory
        listing, independent of the pointer cache AND of the
        roll-forward chain (which breaks if an intermediate version
        file is ever removed while the pointer lags).  The publish
        stale-slot guard and vacuum both rule on this, so a gap in
        the chain can never let a writer re-link a reclaimed slot or
        a vacuum reap the true tip (ADVICE r13)."""
        mx = 0
        for f in os.listdir(self.root):
            if f.startswith("_manifest.v") and f.endswith(".json"):
                try:
                    mx = max(mx, int(f[len("_manifest.v"):-len(".json")]))
                except ValueError:
                    continue  # a writer's *.tmp or foreign debris
        return mx

    def applied_batch_ids(self) -> set:
        return set(self._read_manifest()["batch_ids"])

    # -- bounded exactly-once ledger (r16 directive #3) ------------------------

    @staticmethod
    def _split_batch_id(batch_id: str):
        """``(stream, seq)`` for a structured id of the form
        ``"<stream>-<int>"`` (the shape every streaming sink here
        emits — ``stream-<epoch>``, ``stream-maint-<epoch>``), else
        None.  The integer suffix is what lets an EXPIRED replay be
        detected after its id left the ledger — Delta's
        ``setTransaction (appId, version)`` monotonicity, recovered
        from the id itself."""
        head, sep, tail = batch_id.rpartition("-")
        if sep and head and tail.isdigit():
            return head, int(tail)
        return None

    def set_ledger_retention(
        self, max_entries: Optional[int], batch_id: Optional[str] = None
    ) -> int:
        """Bound the exactly-once batch ledger (the Delta
        ``setTransaction`` retention story): once set, every commit
        keeps only the newest ``max_entries`` ids — a streaming ingest
        at one micro-batch a minute no longer grows every manifest by
        ~500k ids/year.  Expired STRUCTURED ids (``"<stream>-<int>"``,
        the shape the streaming sinks emit) fold into a per-stream
        high-water mark (``batch_hwm``, O(streams) forever), so a
        replay from beyond retention is REJECTED with
        :class:`StaleBatchReplay` rather than silently double-applied
        — stronger than Delta, which documents the double-apply
        hazard past its retention.  Expired unstructured ids are
        simply forgotten (exactly Delta's documented trade; size the
        retention above the longest possible replay lag).  Monotonic
        sequence numbers per stream are the caller's contract, as with
        ``setTransaction``.  ``None`` clears the bound (the ledger
        grows unbounded again; the high-water marks remain).  The
        property rides every subsequent commit and is enforced at the
        one publish choke point, so no commit kind can miss it."""
        if max_entries is not None and max_entries < 1:
            raise ValueError(
                f"max_entries must be >= 1 or None, got {max_entries}"
            )
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
            }
            if max_entries is None:
                # an explicit None tombstone: absence would be
                # re-filled by the publish-time carry from the parent
                new["ledger_retention"] = None
            else:
                new["ledger_retention"] = {"max_entries": int(max_entries)}
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata"}), "set_ledger_retention"
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE HISTORY`` (the Delta shape): one row per retained
        version — commit timestamp, structural kind (the same
        classification the feed and the OCC matrix rule on), the batch
        id the commit appended to the exactly-once ledger, size
        metadata (file/delta-fileset counts, dv-suppressed rows), and
        OPERATION METRICS (r16 directive #7 — the Delta
        ``operationMetrics`` shape): files added/removed (derived from
        the parent diff at publish), rows written for appends/
        overwrites (``num_output_rows``, from parquet footers already
        in filemeta), and typed row counts for DML/MERGE commits
        (``rows_inserted``/``rows_updated``/``rows_deleted``, from the
        commit's own CDC fileset).  Metrics are stamped into the
        commit RECORD at publish, so this stays pure metadata:
        O(retained versions) record reads, zero data I/O; vacuumed
        versions simply don't appear; pre-r16 legacy versions report
        NULL row metrics.  The frame is driver-built index metadata,
        the same bounded class as the bloom/stats jobs."""
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        versions: dict[int, dict] = {}
        for f in os.listdir(self.root):
            if not (f.startswith("_manifest.v") and f.endswith(".json")):
                continue
            try:
                v = int(f[len("_manifest.v"):-len(".json")])
            except ValueError:
                continue
            # _load_record so the protocol guard covers DESCRIBE
            # HISTORY too (ADVICE r16): a future-protocol record
            # raises ProtocolTooNew instead of being misclassified as
            # a legacy full manifest.  A racing vacuum removing the
            # file mid-listing surfaces as ValueError — skip it, the
            # version is simply no longer retained.
            try:
                versions[v] = self._load_record(v)
            except ValueError:
                continue
        def _opt(s, k):
            return None if s.get(k) is None else int(s[k])

        rows = []
        for v in sorted(versions):
            rec = versions[v]
            if self._is_record(rec):
                # commit record: kind + summary + operation metrics
                # stamped at publish — nothing to materialize or diff
                s = rec.get("summary", {})
                rows.append(
                    (
                        v,
                        float(rec.get("committed_at", 0.0)),
                        rec.get("kind", "unknown"),
                        s.get("batch_id"),
                        int(s.get("n_files", 0)),
                        int(s.get("n_delta_filesets", 0)),
                        int(s.get("dv_rows", 0)),
                        _opt(s, "files_added"),
                        _opt(s, "files_removed"),
                        _opt(s, "num_output_rows"),
                        _opt(s, "rows_inserted"),
                        _opt(s, "rows_updated"),
                        _opt(s, "rows_deleted"),
                    )
                )
                continue
            # pre-r16 legacy full manifest: derive kind/batch_id by
            # diffing against the (necessarily also legacy) parent
            cur = rec
            prev = versions.get(v - 1)
            if prev is not None and self._is_record(prev):
                prev = None  # cannot happen in practice; be safe
            if prev is not None:
                kind = self._commit_kind(prev, cur)
            elif v == 1:
                # the seed commit has no parent; a shallow clone's
                # seed is kind 'clone' (ADVICE r15)
                kind = (
                    "clone" if cur.get("cloned_from") is not None
                    else "overwrite"
                )
            else:
                kind = "unknown"  # parent vacuumed: not derivable
            bids = cur.get("batch_ids", [])
            prev_bids = (prev or {}).get("batch_ids", [])
            batch_id = (
                bids[len(prev_bids)]
                if prev is not None and len(bids) == len(prev_bids) + 1
                else (bids[-1] if v == 1 and bids else None)
            )
            # legacy full manifests predate metric stamping: derive
            # the file deltas from the adjacent pair when available
            pfiles = set(prev.get("files", [])) if prev else None
            cfiles = cur.get("files", [])
            rows.append(
                (
                    v,
                    float(cur.get("committed_at", 0.0)),
                    kind,
                    batch_id,
                    len(cfiles),
                    len(cur.get("deltas", [])),
                    int(sum((cur.get("dv") or {}).get("rows", {}).values())),
                    None if pfiles is None else sum(
                        1 for f in cfiles if f not in pfiles
                    ),
                    None if pfiles is None else sum(
                        1 for f in pfiles if f not in set(cfiles)
                    ),
                    None,
                    None,
                    None,
                    None,
                )
            )
        schema = StructType(
            [
                StructField("version", LongType(), False),
                StructField("committed_at", DoubleType(), False),
                StructField("kind", StringType(), False),
                StructField("batch_id", StringType(), True),
                StructField("n_files", LongType(), False),
                StructField("n_delta_filesets", LongType(), False),
                StructField("dv_rows", LongType(), False),
                StructField("files_added", LongType(), True),
                StructField("files_removed", LongType(), True),
                StructField("num_output_rows", LongType(), True),
                StructField("rows_inserted", LongType(), True),
                StructField("rows_updated", LongType(), True),
                StructField("rows_deleted", LongType(), True),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def describe_detail(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE DETAIL`` (the Delta shape): ONE row of
        table-level facts from pure metadata — current version, live
        base-file count and bytes, outstanding delta filesets and
        their bytes, dv-suppressed rows, key/bloom/NDV column
        properties, constraint counts, ledger size and retention, and
        the commit-record protocol version.  One manifest
        materialization, zero data I/O."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        m = self._read_manifest()
        fm = m.get("filemeta", {})

        def _bytes(names) -> int:
            return int(
                sum((fm.get(f) or {}).get("bytes") or 0 for f in names)
            )

        delta_files = [f for fs in m.get("deltas", []) for f in fs]
        cons = self._constraints(m)
        ret = m.get("ledger_retention") or {}
        row = (
            int(m["version"]),
            len(m.get("files", [])),
            _bytes(m.get("files", [])),
            len(m.get("deltas", [])),
            _bytes(delta_files),
            int(sum((m.get("dv") or {}).get("rows", {}).values())),
            ",".join(m.get("key_columns") or []) or None,
            ",".join(m.get("bloom_cols") or []) or None,
            ",".join(m.get("ndv_cols") or []) or None,
            len(cons["checks"]) + len(cons["not_null"]),
            len(m.get("batch_ids", [])),
            int(ret["max_entries"]) if ret.get("max_entries") else None,
            int(self.PROTOCOL_VERSION),
        )
        schema = StructType(
            [
                StructField("version", LongType(), False),
                StructField("num_files", LongType(), False),
                StructField("size_bytes", LongType(), False),
                StructField("num_delta_filesets", LongType(), False),
                StructField("delta_size_bytes", LongType(), False),
                StructField("dv_rows", LongType(), False),
                StructField("key_columns", StringType(), True),
                StructField("bloom_cols", StringType(), True),
                StructField("ndv_cols", StringType(), True),
                StructField("num_constraints", LongType(), False),
                StructField("ledger_size", LongType(), False),
                StructField("ledger_retention", LongType(), True),
                StructField("protocol", LongType(), False),
            ]
        )
        return spark.createDataFrame([row], schema)

    @staticmethod
    def _carry_meta(m: dict) -> dict:
        """Table-level metadata that rides along content-preserving /
        content-merging commits: the ANALYZE profile (``colstats``,
        provenance kept for staleness detection) and the incremental
        NDV sketch state (``ndv`` + its ``ndv_cols`` property).  An
        overwrite deliberately does NOT call this — replaced content
        invalidates profiles and sketches alike."""
        return {k: m[k] for k in ("colstats", "ndv", "ndv_cols") if k in m}

    def _publish(self, manifest: dict) -> None:
        """Atomic publish with optimistic-concurrency DETECTION: write
        the complete manifest to a uniquely named temp file, then claim
        its version slot with an atomic put-if-absent (``os.link`` —
        the local-filesystem equivalent of an object store's
        conditional PUT / ``If-None-Match``).  The link is the commit
        point: exactly one writer can create ``_manifest.vN.json``, so
        two writers that both read version N-1 can no longer silently
        clobber each other (the lost update ``os.replace`` allowed) —
        the loser gets :class:`CommitConflict` and its commit method
        decides rebase-vs-abort.  Linking a pre-written, fsynced temp
        file (rather than ``O_CREAT|O_EXCL`` + write-in-place) means a
        crash can never leave a PARTIAL version file squatting on the
        slot.  The pointer file is only a read cache of the newest
        version, refreshed after the link — ``_read_manifest`` rolls
        forward through newer version files, so a crash between link
        and refresh (or two refreshes landing out of order) never
        loses a committed version."""
        hook, self._race_once = self._race_once, None
        if hook is not None:
            hook()  # test-only: a concurrent writer lands exactly here
        # Stale-slot guard: if the table already moved PAST this
        # version, the slot's file may have been vacuumed — linking
        # into that hole would publish a manifest the readers'
        # roll-forward silently skips (a lost commit wearing a version
        # number from history).  Reading the tip first turns that into
        # an ordinary conflict; the put-if-absent link below still
        # arbitrates same-slot races exactly.
        # The directory scan backstops the pointer roll-forward: if an
        # intermediate version file was vacuumed while the pointer
        # lagged, the roll-forward chain stops short of the true tip,
        # and trusting it alone would let this writer re-link a
        # vacuumed slot readers skip (ADVICE r13).  The scan runs
        # UNCONDITIONALLY.  Skipping it when the chain reaches the
        # slot's parent (the ADVICE r14 suggestion) is UNSOUND:
        # "vacuum heals the pointer before removing manifests" does
        # not make the pointer monotone — a slow writer's post-link
        # refresh can land AFTER a later vacuum's heal and regress the
        # pointer below the vacuum horizon, leaving a chain that ends
        # exactly at a vacuumed slot's parent (pinned by
        # test_publish_guard_scans_disk_when_chain_is_broken).  The
        # cost is one listing of O(retained manifests) names per
        # COMMIT (never on the read path), and periodic vacuum is what
        # keeps it flat — the documented operational contract.
        rf = self._read_manifest()
        tip = max(rf["version"], self._max_version_on_disk())
        if tip >= manifest["version"]:
            raise CommitConflict(
                f"version {manifest['version']} is not ahead of the "
                "current tip — a concurrent writer advanced the table"
            )
        # The parent manifest: the tip just read in the common case —
        # needed for the timestamp chain, the kind classification, and
        # the action-record diff.
        if rf["version"] == manifest["version"] - 1:
            parent: Optional[dict] = rf
        elif manifest["version"] == 1:
            parent = None
        else:
            try:
                parent = self._materialize(manifest["version"] - 1)
            except ValueError:
                parent = None  # parent vacuumed mid-race
        # -- bounded exactly-once ledger (r16 directive #3), enforced
        # at the ONE choke point every commit kind funnels through.
        # The retention property and the expired-id high-water marks
        # ride every commit (builders construct manifests explicitly,
        # so they are carried here, not in each builder).
        if parent is not None:
            for k in ("ledger_retention", "batch_hwm"):
                if k not in manifest and k in parent:
                    manifest[k] = parent[k]
        pbids = set(parent.get("batch_ids", [])) if parent else set()
        appended = [
            b for b in manifest.get("batch_ids", []) if b not in pbids
        ]
        hwm = manifest.get("batch_hwm") or {}
        for b in appended:
            s = self._split_batch_id(b)
            if s is not None and s[0] in hwm and s[1] <= hwm[s[0]]:
                raise StaleBatchReplay(
                    f"batch id {b!r} is at or below stream "
                    f"{s[0]!r}'s expired high-water mark "
                    f"{hwm[s[0]]}: it left the bounded ledger, so a "
                    "replay can no longer be distinguished from a new "
                    "batch — refusing to (possibly double-) apply it"
                )
        mx = (manifest.get("ledger_retention") or {}).get("max_entries")
        if mx and len(manifest.get("batch_ids", [])) > mx:
            bids = manifest["batch_ids"]
            new_hwm = dict(hwm)
            for b in bids[:-mx]:
                s = self._split_batch_id(b)
                if s is not None:
                    new_hwm[s[0]] = max(new_hwm.get(s[0], s[1]), s[1])
            manifest["batch_ids"] = bids[-mx:]
            if new_hwm:
                manifest["batch_hwm"] = new_hwm
        # Commit timestamp (the Delta commit-log timestamp, stamped at
        # the same choke point): MONOTONE by construction —
        # max(parent's stamp, wall clock) — so TIMESTAMP AS OF
        # resolution ("latest version <= ts") stays well-defined under
        # clock skew or a stepped-back clock; ties resolve to the
        # highest version.  Carried stamps from ``{**mm}``-style
        # manifest spreads are overwritten here.
        import time as _time

        parent_ct = (
            float(parent.get("committed_at", 0.0))
            if parent is not None
            else 0.0
        )
        manifest["committed_at"] = max(parent_ct, _time.time())
        # Column-DEFAULT file dating (r17 #6): once any DEFAULT /
        # generated column is declared, every file ADDED by a commit
        # is stamped with the committing version in its filemeta
        # (``schema_v``), so reads can tell 'file predates the column
        # → fill default' from 'file postdates it → its nulls are
        # real'.  One choke point covers every commit kind; files
        # carried from the parent keep their entries untouched
        # (materialized manifests are immutable — only this commit's
        # OWN fresh entries are replaced).
        if manifest.get("column_defaults") and manifest.get("filemeta"):
            pfm = (parent or {}).get("filemeta") or {}
            fm = manifest["filemeta"]
            fresh = [
                f for f, e in fm.items()
                if f not in pfm
                and isinstance(e, dict)
                and "schema_v" not in e
            ]
            if fresh:
                fm = dict(fm)
                for f in fresh:
                    fm[f] = {**fm[f], "schema_v": manifest["version"]}
                manifest["filemeta"] = fm
        # Row tracking (r17 #7): every file this commit ADDS gets its
        # base_row_id from the monotone high-water mark, in file-list
        # order — one choke point, every commit kind.  Ids implied by
        # a file's (base, position) range are never reused even when
        # some rows carry materialized ids instead (the hwm advances
        # by the full footer row count).
        if manifest.get("row_tracking") and manifest.get("filemeta"):
            pfm = (parent or {}).get("filemeta") or {}
            fm = manifest["filemeta"]
            fresh = [
                f for f in manifest.get("files", [])
                if f in fm and f not in pfm
                and "base_row_id" not in fm[f]
            ]
            if fresh:
                hwm = int(manifest.get("row_id_hwm") or 0)
                fm = dict(fm)
                for f in fresh:
                    rows = fm[f].get("rows")
                    if rows is None:
                        raise ValueError(
                            f"row tracking: file {f} committed without "
                            "a footer row count — cannot assign row ids"
                        )
                    fm[f] = {**fm[f], "base_row_id": hwm}
                    hwm += int(rows)
                manifest["filemeta"] = fm
                manifest["row_id_hwm"] = hwm
        # Structural kind + size summary, stamped INTO the record so
        # DESCRIBE HISTORY and the OCC conflict matrix read commit
        # records directly (no materialization, no adjacent-manifest
        # diffing).  The seed commit of a shallow clone is kind
        # 'clone' (ADVICE r15: provenance was hiding as 'overwrite').
        if manifest["version"] == 1:
            # the seed commit has no real parent (v0 is the synthetic
            # empty table); a shallow clone's seed is kind 'clone'
            # (ADVICE r15: provenance was hiding as 'overwrite')
            kind = (
                "clone" if manifest.get("cloned_from") is not None
                else "overwrite"
            )
        elif parent is not None:
            kind = self._commit_kind(parent, manifest)
        else:
            kind = "unknown"
        # Operation metrics (r16 directive #7 — the Delta DESCRIBE
        # HISTORY operationMetrics shape): file-level deltas derived
        # here for free from the parent diff; row-level metrics are
        # stamped by the writers under the transient "op_metrics" key
        # (popped into the record — it describes ONE commit and never
        # rides the materialized manifest, so ``{**mm}``-style spreads
        # cannot leak it forward).
        pfiles = set(parent.get("files", [])) if parent else set()
        cfiles = manifest.get("files", [])
        cset = set(cfiles)
        op_metrics = manifest.pop("op_metrics", None) or {}
        summary = {
            "batch_id": appended[0] if len(appended) == 1 else None,
            "n_files": len(cfiles),
            "n_delta_filesets": len(manifest.get("deltas", [])),
            "dv_rows": int(
                sum((manifest.get("dv") or {}).get("rows", {}).values())
            ),
            "files_added": sum(1 for f in cfiles if f not in pfiles),
            "files_removed": sum(1 for f in pfiles if f not in cset),
            **op_metrics,
        }
        # Checkpoint vs log record: v1 and every CHECKPOINT_INTERVAL-th
        # version snapshot in full; everything else stores the O(delta)
        # action diff — verified round-trip against the parent before
        # being trusted (any mismatch falls back to a checkpoint, so a
        # log record is NEVER wrong, at worst bigger).
        ckpt = (
            parent is None
            or manifest["version"] == 1
            or self.CHECKPOINT_INTERVAL <= 1
            or manifest["version"] % self.CHECKPOINT_INTERVAL == 0
        )
        actions: Optional[dict] = None
        if not ckpt:
            actions = self._diff_dict(parent, manifest)
            if self._apply_actions(parent, actions) != manifest:
                ckpt = True
        # Records are stamped with the MINIMUM protocol able to read
        # them: log records and inline-snapshot checkpoints stay 2
        # (older builds keep reading them); only a columnar checkpoint
        # demands protocol 3.
        rec = {
            "version": manifest["version"],
            "protocol": 2,
            "committed_at": manifest["committed_at"],
            "kind": kind,
            "summary": summary,
        }
        sidecar_name: Optional[str] = None
        if ckpt:
            if (
                len(manifest.get("files", ())) >= self.SIDECAR_MIN_FILES
            ):
                core, sidecar_name, present, typed_flags = (
                    self._write_parquet_checkpoint(manifest)
                )
                rec["snapshot_core"] = core
                rec["sidecar"] = sidecar_name
                rec["sidecar_keys"] = present
                rec["sidecar_typed"] = typed_flags
                rec["protocol"] = 3
            else:
                rec["snapshot"] = manifest
        else:
            rec["actions"] = actions
        vfile = os.path.join(self.root, f"_manifest.v{manifest['version']}.json")
        tmp = f"{vfile}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, vfile)  # atomic create-if-absent, complete file
        except FileExistsError:
            if sidecar_name is not None:
                # the loser's uniquely-named sidecar is debris — the
                # winner's record never references it
                try:
                    os.remove(os.path.join(self.root, sidecar_name))
                except OSError:
                    pass
            raise CommitConflict(
                f"version {manifest['version']} was published by a "
                "concurrent writer"
            ) from None
        finally:
            os.remove(tmp)
        # refresh the pointer cache — an O(record) hint embedding a
        # copy of the tip's commit record (so a racing removal of the
        # version file can never lose the commit — the redundancy the
        # old full-manifest pointer provided, at O(delta) cost):
        # readers see old-or-new, never a mix
        tmp2 = f"{self._pointer}.{uuid.uuid4().hex}.tmp"
        with open(tmp2, "w") as fh:
            json.dump(
                {"hint": True, "version": manifest["version"], "record": rec},
                fh,
            )
        os.replace(tmp2, self._pointer)

    # -- optimistic concurrency -------------------------------------------------

    @staticmethod
    def _commit_kind(prev: dict, cur: dict) -> str:
        """Classify the commit that took ``prev`` to ``cur``:
        ``'metadata'`` (file lists untouched — ANALYZE, schema
        evolution), ``'delta'`` (base untouched, exactly one delta
        fileset appended), ``'reorg'`` (a file-list rewrite the WRITER
        declared content-preserving — compact / OPTIMIZE / clustering
        evolution stamp ``"reorg": true``; the resolved row set is
        bit-identical before and after, so the change feed reads
        straight through and blind appends may rebase over it), or
        ``'rewrite'`` (a content-changing rewrite — overwrite,
        copy-on-write merge, restore).  Structure is derived from the
        manifests; the reorg declaration is trusted exactly like a
        lakehouse commit's operation metadata (only this module's
        maintenance methods write it).  :meth:`changes` and the OCC
        conflict matrix rule on these kinds."""
        pf, cf = prev.get("files", []), cur.get("files", [])
        pd, cd = prev.get("deltas", []), cur.get("deltas", [])
        if cf == pf and cd == pd:
            # a deletion-vector DELETE leaves both file lists untouched
            # (it only grows the dv) but IS a content change with its
            # own CDC fileset — classify by its dml stamp, never as
            # metadata (a metadata classification would let OCC rebase
            # content commits straight over it)
            if cur.get("dml"):
                return "dml"
            if (prev.get("dv") or None) == (cur.get("dv") or None):
                return "metadata"
            # file lists untouched but the dv CHANGED without a dml
            # stamp: only a RESTORE landing on the same fileset with a
            # different suppression set does this (e.g. rolling back a
            # dv delete) — it resurrects/removes rows, so it must never
            # pass as metadata (the feed derives its events, OCC
            # treats it as content)
            return (
                "restore" if cur.get("restore_of") is not None
                else "rewrite"
            )
        if cf == pf and len(cd) == len(pd) + 1 and cd[: len(pd)] == pd:
            return "delta"
        if cur.get("dml"):
            # a predicate DELETE/UPDATE: a content change whose exact
            # row-level change set is recorded in the commit's own
            # typed CDC fileset (``cdc_files``) — the feed reads it
            return "dml"
        if cur.get("restore_of") is not None:
            # a RESTORE: content change whose row-level events are
            # derivable lazily from the rolled-away range's own
            # filesets (see changes()/_restore_events) — when that
            # range is itself derivable
            return "restore"
        if cur.get("reorg"):
            return "reorg"
        if (
            len(cf) > len(pf)
            and cf[: len(pf)] == pf
            and cd == pd
            and (prev.get("dv") or None) == (cur.get("dv") or None)
        ):
            # base-file APPEND (commit_append, or an insert-only pruned
            # merge that carried every existing file): the parent's
            # file list survives as a prefix and nothing else moved, so
            # the fresh files ARE the exact change set — the feed and
            # the streaming source read through it, and blind appends
            # rebase over it
            return "append"
        return "rewrite"

    def _intervening_kinds(self, base: dict, tip: dict) -> set:
        """Kinds of every commit published after ``base`` up to and
        including ``tip`` — the facts the conflict matrix rules on.
        Commit records carry their kind (stamped at publish), so this
        is O(conflicting commits) small record reads — no manifest
        materialization, no data I/O; only pre-r16 legacy full
        manifests fall back to the adjacent-diff classification."""
        kinds: set = set()
        prev: Optional[dict] = base
        for v in range(base["version"] + 1, tip["version"] + 1):
            rec = self._load_record(v)
            if self._is_record(rec):
                kinds.add(rec.get("kind", "unknown"))
                prev = None  # manifests no longer tracked (not needed)
            else:
                if prev is None:
                    prev = self._materialize(v - 1)
                kinds.add(self._commit_kind(prev, rec))
                prev = rec
        return kinds

    def _commit_retrying(
        self, base: dict, build, rebase_over: frozenset, what: str
    ) -> int:
        """Publish with bounded optimistic retry — Delta's conflict
        matrix in miniature.  ``build(m)`` constructs the new manifest
        against snapshot ``m`` and returns ``None`` when the batch id
        turns out already applied (a concurrent duplicate delivery:
        exactly-once holds even across racing writers).  On
        :class:`CommitConflict` the tip is re-read and the commit is
        REBASED (rebuilt against the tip, retried) only when every
        intervening commit's kind is in ``rebase_over``:

        - blind appends (``commit_append``, ``commit_delta``: the
          additive policy of :meth:`_commit_rows`) serialize after
          other appends, deltas, predicate DML, metadata-only commits
          AND content-preserving reorgs — the WriteSerializable append
          story; scheduled compaction/OPTIMIZE never aborts a
          concurrent ingest (the appended fileset resolves by rank
          over the reorganized base exactly as it would have over the
          old one — the reorg preserved the resolved row set, and
          typed-CDC attribution stays exact for the same reason);
        - ANALYZE serializes after metadata-only commits and reorgs
          (both preserve the content the profile describes; a content
          commit underneath would silently stale it);
        - every content writer that read a snapshot (overwrite,
          ``commit_merge``, the row-level MERGE/UPDATE/DELETE: the
          strict policy) rebases over pure-metadata commits only; a
          content commit underneath aborts it to the caller, who must
          re-read and re-decide (a restore publishes directly and
          aborts on any race).

        An aborted attempt may leave never-referenced files in
        ``data/`` — harmless (no manifest names them; snapshot reads
        can't see them), reclaimable by a listing-based GC exactly as
        in any lakehouse."""
        m = base
        for _ in range(max(1, self.occ_max_retries)):
            new = build(m)
            if new is None:
                return m["version"]
            try:
                self._publish(new)
                return new["version"]
            except CommitConflict:
                tip = self._read_manifest()
                try:
                    kinds = self._intervening_kinds(m, tip)
                except ValueError:
                    # a concurrent vacuum removed an intervening version
                    # file mid-race: rebase safety can no longer be
                    # PROVEN, so abort conservatively instead of leaking
                    # a version-not-found error
                    kinds = {"rewrite"}
                if not kinds <= rebase_over:
                    raise CommitConflict(
                        f"{what} built against version {m['version']} lost "
                        f"to concurrent {sorted(kinds - rebase_over)} "
                        f"commit(s) ending at version {tip['version']} and "
                        "cannot be rebased — re-read the table and retry"
                    ) from None
                m = tip
        raise CommitConflict(
            f"{what}: gave up after occ_max_retries="
            f"{self.occ_max_retries} attempts under write contention"
        )

    # -- table-level schema evolution -------------------------------------------

    @staticmethod
    def _can_widen(src, dst) -> bool:
        """True when ``src -> dst`` is a SAFE type widening — the
        Delta 4.0 type-widening matrix restricted to exactly the
        conversions that are (a) lossless for every representable
        value and (b) supported by Spark's parquet readers as
        read-time upcasts (SPARK-40876), so already-written narrow
        files stay readable under the widened schema with ZERO
        rewrites: the integral chain byte→short→int→long,
        float→double, and decimal growth that does not shrink either
        the integer or the fraction digits.  Everything else (and any
        narrowing) is NOT a widening and the callers raise."""
        from pyspark.sql.types import (
            ByteType,
            DecimalType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
        )

        chain = (ByteType(), ShortType(), IntegerType(), LongType())
        if src in chain and dst in chain:
            return chain.index(src) < chain.index(dst)
        if isinstance(src, FloatType) and isinstance(dst, DoubleType):
            return True
        if isinstance(src, DecimalType) and isinstance(dst, DecimalType):
            return (
                dst.scale >= src.scale
                and dst.precision - dst.scale >= src.precision - src.scale
                and (dst.precision, dst.scale)
                != (src.precision, src.scale)
            )
        return False

    @classmethod
    def _merged_field(cls, g, f):
        """Merge an incoming declaration ``f`` into tracked field
        ``g`` (same name): identical type keeps ``g``; a NARROWER
        incoming type also keeps ``g`` (old wide type stands, narrow
        batch bytes upcast at read); a WIDER incoming type widens the
        tracked type IN PLACE — nullability and metadata (the
        column-mapping id + physical name: widening never re-keys a
        column, its files/stats/blooms all stay valid) are preserved.
        Anything else raises."""
        if g.dataType == f.dataType or cls._can_widen(
            f.dataType, g.dataType
        ):
            return g
        if cls._can_widen(g.dataType, f.dataType):
            from pyspark.sql.types import StructField

            return StructField(g.name, f.dataType, g.nullable, g.metadata)
        raise ValueError(
            "schema evolution is additive/widening-only: column "
            f"{f.name!r} cannot change type "
            f"{g.dataType.simpleString()} -> "
            f"{f.dataType.simpleString()}"
        )

    @classmethod
    def _merge_schema(cls, prev: Optional[dict], df: DataFrame) -> dict:
        """Merge a batch's schema into the tracked table schema (the
        Delta ``mergeSchema`` rule + the type-widening table feature):
        new columns APPEND, existing columns must keep their exact
        type OR move along the safe widening matrix
        (:meth:`_can_widen` — a wider batch widens the tracked type, a
        narrower batch upcasts at read); any other type change raises.
        Internal marker columns are excluded.  Returns the merged
        schema as a StructType json dict (what the manifest
        persists)."""
        from pyspark.sql.types import StructType

        batch = StructType(
            # the change-type marker and the row-tracking identity are
            # internal physical columns — a rewrite frame carrying
            # materialized ``__row_id__`` (compact/optimize on a
            # tracked table) must never leak it into the TRACKED
            # schema (reads would then collide with the hidden rowid
            # read column)
            [
                f for f in df.schema.fields
                if f.name not in (cls._CT, "__row_id__")
            ]
        )
        if prev is None:
            return batch.jsonValue()
        cur = StructType.fromJson(prev)
        idx = {f.name: i for i, f in enumerate(cur.fields)}
        out = list(cur.fields)
        for f in batch.fields:
            i = idx.get(f.name)
            if i is None:
                out.append(f)
            else:
                out[i] = cls._merged_field(out[i], f)
        return StructType(out).jsonValue()

    def evolve_schema(
        self,
        new_columns,
        batch_id: Optional[str] = None,
        defaults: Optional[dict] = None,
        generated: Optional[dict] = None,
    ) -> int:
        """``ALTER TABLE .. ADD COLUMN(S)``: widen the tracked table
        schema by METADATA ONLY — no data file is read, written or
        rewritten; every existing file null-fills the new columns at
        read (``_read_base``) exactly as after an evolving merge.
        ``new_columns`` is a DDL string (``"tier string, bonus
        double"``), a StructType, or a list of StructFields.  An
        existing column re-declared with the SAME type is an
        idempotent no-op; re-declared with a safely WIDER type
        (int→bigint, float→double, decimal growth — :meth:`_can_widen`,
        the Delta type-widening table feature) it widens by metadata
        only — existing files keep their narrow bytes and upcast at
        read, stats and bloom indexes stay valid verbatim; any other
        type change raises.  Goes through the
        same batch-id ledger and OCC retry as every commit, rebasing
        over concurrent deltas / metadata / reorgs (adding a column
        commutes with all of them); content rewrites abort.

        Requires a schema-tracked table (any commit_overwrite /
        compact / optimize records one): on an untracked table there
        is no authoritative column set to widen — raising beats
        guessing from one parquet footer.

        ``defaults`` (r17 directive #6 — ``ADD COLUMN .. DEFAULT``,
        the Delta column-defaults + Iceberg initial-default shape)
        maps a NEWLY added column to a SQL expression of constants
        (``"0.0"``, ``"'N/A'"``, ``"current_date()"`` — it must not
        reference table columns; use ``generated`` for that): files
        written BEFORE the column fill it with the default at read
        instead of null (per-file ``schema_v`` in filemeta dates each
        file against the column's ``added_v``), and writes that OMIT
        the column get it filled at commit.  A post-add write that
        explicitly stores NULL keeps NULL — missing-vs-null is
        file-dated, never guessed from the value.

        ``generated`` maps a newly added column to an expression over
        OTHER table columns (Delta generated columns): computed at
        write when the batch omits it, VALIDATED when the batch
        provides it (a mismatching value raises
        ``ConstraintViolation`` — the Delta rule), and computed from
        each old file's own rows at read for pre-add files.

        Scale: this is why adding a column to a 100 TB table costs
        one manifest write — the lakehouse ALTER TABLE story; the
        change feed and streaming source classify it 'metadata' and
        read straight through it, emitting rows under the evolved
        superset schema (old rows null-fill, or default/generated-fill
        when declared)."""
        from pyspark.sql.types import StructField, StructType

        if isinstance(new_columns, str):
            new_columns = StructType.fromDDL(new_columns)
        fields = list(new_columns)
        if not fields or not all(
            isinstance(f, StructField) for f in fields
        ):
            raise ValueError(
                "evolve_schema needs a DDL string, StructType, or "
                "non-empty list of StructFields"
            )
        defaults = dict(defaults or {})
        generated = dict(generated or {})
        both = set(defaults) & set(generated)
        if both:
            raise ValueError(
                f"column(s) {sorted(both)} declared both DEFAULT and "
                "generated — pick one"
            )
        fnames = {f.name for f in fields}
        for label, mapping in (("defaults", defaults), ("generated", generated)):
            bad = set(mapping) - fnames
            if bad:
                raise ValueError(
                    f"{label} for column(s) {sorted(bad)} that are not "
                    "in new_columns — DEFAULT/generated attach at ADD "
                    "COLUMN time"
                )
            for c, e in mapping.items():
                if not isinstance(e, str) or not e.strip():
                    raise ValueError(
                        f"{label}[{c!r}] must be a SQL expression string"
                    )
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if mm.get("schema") is None:
                raise ValueError(
                    "evolve_schema needs a schema-tracked table: run "
                    "commit_overwrite/compact/optimize once (which "
                    "records the table schema) first"
                )
            cur = StructType.fromJson(mm["schema"])
            idx = {f.name: i for i, f in enumerate(cur.fields)}
            out = list(cur.fields)
            for f in fields:
                i = idx.get(f.name)
                if i is None:
                    idx[f.name] = len(out)
                    out.append(f)
                else:
                    # re-declared column: same type = idempotent no-op;
                    # a safe WIDENING (int→bigint, float→double,
                    # decimal growth) updates the tracked type in place
                    # — metadata-only, the ALTER TABLE .. TYPE shape:
                    # old files upcast at read (SPARK-40876), and the
                    # per-file stats/blooms stay valid because the
                    # file bytes (and so the values a probe
                    # canonicalizes) are unchanged.  Unlike the batch
                    # merge rule (where a NARROW batch is fine — it
                    # upcasts under the wide tracked type), an explicit
                    # ALTER asking to narrow must raise, not silently
                    # keep the wide type.
                    g = out[i]
                    if g.dataType != f.dataType:
                        if not self._can_widen(f.dataType, g.dataType):
                            out[i] = self._merged_field(g, f)
                        else:
                            raise ValueError(
                                "schema evolution is additive/widening-"
                                f"only: column {f.name!r} cannot NARROW "
                                f"{g.dataType.simpleString()} -> "
                                f"{f.dataType.simpleString()}"
                            )
            if defaults or generated:
                existing = {f.name for f in cur.fields}
                already = (set(defaults) | set(generated)) & existing
                if already:
                    raise ValueError(
                        f"column(s) {sorted(already)} already exist — "
                        "DEFAULT/generated only attach to columns being "
                        "ADDED (existing rows could not be file-dated "
                        "against them)"
                    )
            schema = StructType(out).jsonValue()
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "schema": schema,
            }
            if defaults or generated:
                added_v = mm["version"] + 1
                cd = dict(mm.get("column_defaults") or {})
                for c, e in defaults.items():
                    cd[c] = {"expr": e, "added_v": added_v}
                for c, e in generated.items():
                    cd[c] = {"expr": e, "added_v": added_v,
                             "generated": True}
                new["column_defaults"] = cd
                if generated:
                    gc = dict(mm.get("generated_columns") or {})
                    gc.update(generated)
                    new["generated_columns"] = gc
            if self._mapping_enabled(mm):
                # new columns mint fresh ids + physical names — a
                # re-add after drop_column can never alias the retired
                # physical bytes
                new["schema"], new["max_column_id"] = (
                    self._assign_column_ids(mm, schema)
                )
            # {**mm} must not inherit a reorg TIP's tag: this commit is
            # metadata-only, not a rewrite declaration
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata", "delta", "reorg", "dml"}),
            "evolve_schema",
        )

    # -- table constraints (CHECK / NOT NULL, enforced at commit) ---------------
    #
    # The reference inherits row invariants from its TARGET database:
    # the Postgres table's column constraints reject a bad batch at
    # merge time (ref: /root/reference/pypeline/Pype.py:107 — the
    # typed ``null::t`` recordset insert surfaces them).  A filesystem
    # table has no engine underneath, so the invariants are explicit
    # manifest state validated against every incoming batch BEFORE its
    # fileset is published — the Delta CHECK-constraint / NOT NULL
    # invariant design: a violating batch raises ConstraintViolation
    # and the table is untouched.  CHECK follows SQL semantics
    # (violated only when the expression is FALSE; NULL passes — use
    # NOT NULL for nullability).  Tombstone deletes are exempt (they
    # carry keys + marker only, like Delta deletes).  Validation costs
    # one aggregation pass over the BATCH per content commit — zero
    # when no constraints are declared — never a table scan; adding a
    # constraint scan-validates the CURRENT snapshot once (the Delta
    # ALTER TABLE ADD CONSTRAINT rule), so commits never re-prove old
    # rows.

    def _apply_column_defaults(
        self, m: dict, df: DataFrame, what: str
    ) -> DataFrame:
        """Write-side half of column DEFAULTS / generated columns
        (r17 #6): a batch that OMITS a defaulted column gets it filled
        with the default expression (cast to the tracked type); a
        batch that omits a GENERATED column gets it computed from its
        expression over the batch's own rows; a batch that PROVIDES a
        generated column is validated against the expression in one
        batch-sized aggregation (a mismatch raises
        ``ConstraintViolation`` — the Delta generated-column rule) —
        explicitly provided values for plain DEFAULT columns always
        win.  Fill order is ADD-COLUMN order so generated expressions
        see their (possibly also defaulted) dependencies."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        cd = m.get("column_defaults") or {}
        if not cd:
            return df
        sch = m.get("schema")
        typ = (
            {f.name: f.dataType for f in StructType.fromJson(sch).fields}
            if sch is not None else {}
        )
        provided_gen = []
        for c in sorted(cd, key=lambda c: (cd[c]["added_v"], c)):
            d = cd[c]
            if c in df.columns:
                if d.get("generated"):
                    provided_gen.append((c, d["expr"]))
                continue
            e = F.expr(d["expr"])
            if c in typ:
                e = e.cast(typ[c])
            df = df.withColumn(c, e)
        if provided_gen:
            checks = [
                F.sum(
                    (~F.col(c).eqNullSafe(F.expr(e))).cast("bigint")
                ).alias(c)
                for c, e in provided_gen
            ]
            row = self._collect_index_metadata(df.agg(*checks))
            for c, e in provided_gen:
                n = row.column(c).to_pylist()[0] or 0
                if n:
                    raise ConstraintViolation(
                        f"{what}: {n} row(s) provide generated column "
                        f"{c!r} values that do not match its "
                        f"generation expression ({e}) — generated "
                        "columns are always derived (omit the column "
                        "or provide matching values)"
                    )
        return df

    def _generated_recompute(self, m: dict, assignments: dict) -> list:
        """Generated columns an UPDATE must RECOMPUTE because the
        assignment touches their source columns (transitive — a
        generated column feeding another propagates), in ADD-COLUMN
        order so chains evaluate dependencies first.  Assigning a
        generated column directly is rejected (it is always derived —
        the Delta rule).  Detection is the same conservative
        word-boundary match the rename/drop guards use."""
        import re as _re

        gc = m.get("generated_columns") or {}
        if not gc:
            return []
        direct = sorted(set(assignments) & set(gc))
        if direct:
            raise ValueError(
                f"generated column(s) {direct} are always derived — "
                "assign their source columns and they recompute"
            )
        cd = m.get("column_defaults") or {}
        changed = set(assignments)
        out: list = []
        progress = True
        while progress:
            progress = False
            for g, e in gc.items():
                if g in changed:
                    continue
                if any(
                    _re.search(rf"\b{_re.escape(c)}\b", e)
                    for c in changed
                ):
                    out.append((g, e))
                    changed.add(g)
                    progress = True
        out.sort(key=lambda ge: (
            (cd.get(ge[0]) or {}).get("added_v", 0), ge[0]
        ))
        return out

    def clear_column_default(
        self, col: str, batch_id: Optional[str] = None
    ) -> int:
        """``ALTER TABLE .. ALTER COLUMN .. DROP DEFAULT`` — remove a
        column's DEFAULT / generated declaration (metadata-only).  The
        column stays in the schema; pre-add files go back to reading
        it as null."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            cd = dict(mm.get("column_defaults") or {})
            if col not in cd:
                raise ValueError(
                    f"column {col!r} has no DEFAULT/generated "
                    "declaration"
                )
            cd.pop(col)
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "column_defaults": cd,
            }
            gc = dict(mm.get("generated_columns") or {})
            if col in gc:
                gc.pop(col)
                new["generated_columns"] = gc
            for k in ("reorg", "dml", "cdc_files", "restore_of"):
                new.pop(k, None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata", "delta", "reorg", "dml"}),
            "clear_column_default",
        )

    def _constraints(self, m: dict) -> dict:
        c = m.get("constraints") or {}
        return {
            "checks": dict(c.get("checks", {})),
            "not_null": list(c.get("not_null", [])),
        }

    def _validate_constraints(self, m: dict, df: DataFrame, what: str) -> None:
        """One batch-sized pass proving ``df`` satisfies every declared
        constraint; raises :class:`ConstraintViolation` naming the
        first violated one.  A NOT NULL column missing from the batch
        entirely is a violation too (its rows would resolve as NULL)."""
        cons = self._constraints(m)
        if not cons["checks"] and not cons["not_null"]:
            return
        from pyspark.sql import functions as F

        flags = []
        for col in cons["not_null"]:
            if col not in df.columns:
                raise ConstraintViolation(
                    f"{what}: batch lacks NOT NULL column {col!r} "
                    "(rows would resolve as NULL)"
                )
            flags.append((f"NOT NULL {col}", F.col(col).isNull()))
        for name, expr in cons["checks"].items():
            flags.append(
                (
                    f"CHECK {name} ({expr})",
                    ~F.coalesce(
                        F.expr(expr).cast("boolean"), F.lit(True)
                    ),
                )
            )
        try:
            probe = df.select(
                *[c.alias(f"__v{i}__") for i, (_n, c) in enumerate(flags)]
            )
            cond = F.col("__v0__")
            for i in range(1, len(flags)):
                cond = cond | F.col(f"__v{i}__")
            bad = probe.filter(cond).first()
        except ConstraintViolation:
            raise
        except Exception as e:  # analysis error: expr references gone
            raise ConstraintViolation(
                f"{what}: constraint validation failed to analyze "
                f"against the batch schema ({e})"
            ) from e
        if bad is not None:
            which = next(
                flags[i][0]
                for i in range(len(flags))
                if bad[f"__v{i}__"]
            )
            raise ConstraintViolation(
                f"{what}: batch violates {which}; commit rejected "
                "before any file was published"
            )

    def _guard_constraint_refs(self, m: dict, col: str, what: str) -> None:
        """Refuse renaming/dropping a column a CHECK expression may
        reference (Delta blocks both for the same reason: the stored
        SQL text cannot be reliably rewritten).  Detection is a
        word-boundary match on the expression text — conservative: a
        string literal containing the name also blocks, which only
        ever over-refuses.  NOT NULL columns are handled structurally
        by the callers (rename follows, drop removes)."""
        import re as _re

        checks = self._constraints(m)["checks"]
        pat = _re.compile(rf"\b{_re.escape(col)}\b")
        hit = [n for n, e in checks.items() if pat.search(e)]
        if hit:
            raise ValueError(
                f"{what}({col!r}): column is referenced by CHECK "
                f"constraint(s) {hit} — drop_constraint them first"
            )
        ghit = [
            c
            for c, e in (m.get("generated_columns") or {}).items()
            if c != col and pat.search(e)
        ]
        if ghit:
            raise ValueError(
                f"{what}({col!r}): column is referenced by generated "
                f"column(s) {ghit} — clear_column_default them first"
            )
        if col in (m.get("identity_cols") or {}):
            raise ValueError(
                f"{what}({col!r}): column is a declared IDENTITY "
                "column — its values derive from the row-tracking "
                "allocator and cannot be renamed or dropped in this "
                "build"
            )

    def add_check_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        batch_id: Optional[str] = None,
    ) -> int:
        """``ALTER TABLE .. ADD CONSTRAINT name CHECK (expr)``: scan-
        validate the CURRENT resolved snapshot once (existing rows
        must already satisfy the invariant — the Delta rule; raises
        :class:`ConstraintViolation` otherwise), then publish a
        metadata-only commit recording it.  Every later content commit
        validates its batch against the constraint before writing.
        Conservative OCC: ANY concurrent commit aborts this one (a
        rebase would leave the raced batch unproven)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        cons = self._constraints(m)
        if cons["checks"].get(name) == expr:
            return m["version"]  # idempotent re-add
        if name in cons["checks"]:
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                "expression — drop_constraint it first"
            )
        current = self.read_resolved(spark)
        if current is not None:
            trial = {
                "constraints": {"checks": {name: expr}, "not_null": []}
            }
            self._validate_constraints(
                trial, current, f"add_check_constraint({name!r})"
            )

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            cc = self._constraints(mm)
            cc["checks"][name] = expr
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "constraints": cc,
            }
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build, frozenset(), f"add_check_constraint({name!r})"
        )

    def add_not_null(
        self,
        spark: SparkSession,
        cols: Sequence[str],
        batch_id: Optional[str] = None,
    ) -> int:
        """``ALTER TABLE .. ALTER COLUMN .. SET NOT NULL`` for one or
        more columns: scan-validates the current snapshot, then a
        metadata-only commit.  Same OCC posture as
        :meth:`add_check_constraint`."""
        cols = list(cols)
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        cons = self._constraints(m)
        missing = [c for c in cols if c not in cons["not_null"]]
        if not missing:
            return m["version"]  # idempotent
        current = self.read_resolved(spark)
        if current is not None:
            trial = {"constraints": {"checks": {}, "not_null": missing}}
            self._validate_constraints(
                trial, current, f"add_not_null({missing})"
            )

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            cc = self._constraints(mm)
            cc["not_null"] += [c for c in cols if c not in cc["not_null"]]
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "constraints": cc,
            }
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build, frozenset(), f"add_not_null({cols})"
        )

    def drop_constraint(self, name: str, batch_id: Optional[str] = None) -> int:
        """Drop a CHECK constraint (or a NOT NULL column named as
        ``name``) — metadata-only, rebases over anything non-content
        (removing an invariant can never invalidate a raced batch)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            cc = self._constraints(mm)
            if name in cc["checks"]:
                del cc["checks"][name]
            elif name in cc["not_null"]:
                cc["not_null"].remove(name)
            else:
                raise ValueError(f"no constraint {name!r} on this table")
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "constraints": cc,
            }
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build,
            frozenset({"metadata", "delta", "reorg", "dml"}),
            f"drop_constraint({name!r})",
        )

    # -- column mapping (rename / drop without data rewrites) -------------------
    #
    # The additive evolution above can only APPEND columns; renaming or
    # dropping one would naively rewrite every data file to the new
    # header.  Column mapping (the Delta columnMapping.mode='name' /
    # Iceberg field-id design) decouples the LOGICAL schema from the
    # PHYSICAL file layout: every tracked column gets an immutable id
    # and an immutable physical name (fixed at column creation, stored
    # in the StructField metadata exactly where Delta keeps
    # delta.columnMapping.{id,physicalName}).  Writers rename logical →
    # physical at the file boundary; readers map back.  A rename then
    # only changes the logical name (zero data I/O), a drop only
    # removes the field from the tracked schema (files keep the bytes,
    # readers project them away), and re-adding a dropped name mints a
    # NEW id + physical name so old data can never resurrect under it.
    # Per-file stats and bloom indexes are keyed by PHYSICAL name, so
    # they survive renames untouched.  Opt-in per table
    # (enable_column_mapping) so pre-mapping tables keep byte-identical
    # behavior.

    _CM_ID = "cm.id"
    _CM_PHYS = "cm.physical"

    @staticmethod
    def _mapping_enabled(m: dict) -> bool:
        return m.get("column_mapping") == "name"

    @classmethod
    def _phys_name(cls, field) -> str:
        """Physical (file) name of a tracked StructField — its own name
        unless column-mapping metadata says otherwise."""
        return (field.metadata or {}).get(cls._CM_PHYS, field.name)

    def _stat_key(self, m: dict, col: str) -> str:
        """Key under which per-file stats/blooms for logical ``col``
        are recorded: the physical name on a mapped table (stats
        survive renames), the column name itself otherwise."""
        sch = m.get("schema")
        if sch is None or not self._mapping_enabled(m):
            return col
        for f in sch["fields"]:
            if f["name"] == col:
                return (f.get("metadata") or {}).get(self._CM_PHYS, col)
        return col

    def _to_physical(self, df: DataFrame, m: dict) -> DataFrame:
        """Rename logical → physical columns before a file write on a
        mapped table (identity otherwise).  Columns not in the tracked
        schema (the internal change-type marker) pass through."""
        sch = m.get("schema")
        if sch is None or not self._mapping_enabled(m):
            return df
        from pyspark.sql import functions as F

        ren = {
            f["name"]: (f.get("metadata") or {}).get(self._CM_PHYS, f["name"])
            for f in sch["fields"]
        }
        return df.select(
            *[F.col(c).alias(ren.get(c, c)) for c in df.columns]
        )

    def _to_logical(self, df: DataFrame, m: dict) -> DataFrame:
        """Rename physical → logical after a RAW file read (delta
        filesets) on a mapped table (identity otherwise).  A physical
        column whose id was DROPPED has no logical name and is
        projected away; unknown non-mapped columns (the change-type
        marker) pass through."""
        sch = m.get("schema")
        if sch is None or not self._mapping_enabled(m):
            return df
        from pyspark.sql import functions as F

        logical = {
            (f.get("metadata") or {}).get(self._CM_PHYS, f["name"]): f["name"]
            for f in sch["fields"]
        }
        retired = {
            r["physical"] for r in m.get("retired_cols", [])
        }
        cols = []
        for c in df.columns:
            if c in logical:
                cols.append(F.col(c).alias(logical[c]))
            elif c in retired:
                continue  # dropped column's bytes: project away
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    def _translate_cols(self, m: dict, cols: Sequence[str]) -> list[str]:
        """Logical → physical for a stats/bloom column list (identity
        on unmapped tables)."""
        return [self._stat_key(m, c) for c in cols]

    @classmethod
    def _cm_assignment(cls, m: dict, cols) -> dict:
        """``{logical name: (cm.id, cm.physical)}`` for the named
        columns as tracked by manifest ``m`` (absent columns omitted)
        — the identity a rebase guard compares: two manifests agree on
        a column exactly when its id AND physical name match (a
        drop + re-add keeps the logical (name, type) but re-keys
        both)."""
        out = {}
        for f in (m.get("schema") or {"fields": []})["fields"]:
            if f["name"] in cols:
                md = f.get("metadata") or {}
                out[f["name"]] = (md.get(cls._CM_ID), md.get(cls._CM_PHYS))
        return out

    @staticmethod
    def _align_to_schema(df: DataFrame, schema_json: dict) -> DataFrame:
        """Project ``df`` onto the tracked logical schema: tracked
        order, missing columns null-filled (a pure-delta table can
        resolve narrower than the tracked schema), present columns
        CAST to the tracked type (a no-op plan node when equal; after
        a type widening this upcasts rows resolved from pre-widening
        files, so e.g. a compaction rewrite converges the physical
        bytes to the tracked wide type)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in StructType.fromJson(schema_json).fields
            ]
        )

    def _assign_column_ids(self, mm: dict, schema_json: dict) -> tuple[dict, int]:
        """Stamp id + physical-name metadata onto any field of
        ``schema_json`` that lacks them (new columns from an evolving
        commit), never reusing an id or physical name — ids grow from
        the manifest's monotone ``max_column_id`` and generated
        physical names (``col-<id>``) are checked against every
        logical name, live physical name, and retired physical name.
        Returns (schema_json, new_max_id)."""
        max_id = mm.get("max_column_id", 0)
        taken = {r["physical"] for r in mm.get("retired_cols", [])}
        for f in schema_json["fields"]:
            taken.add(f["name"])
            md = f.get("metadata") or {}
            if self._CM_PHYS in md:
                taken.add(md[self._CM_PHYS])
        out = []
        for f in schema_json["fields"]:
            md = dict(f.get("metadata") or {})
            if self._CM_ID not in md:
                max_id += 1
                phys = f"col-{max_id}"
                while phys in taken:
                    max_id += 1
                    phys = f"col-{max_id}"
                taken.add(phys)
                md[self._CM_ID] = max_id
                md[self._CM_PHYS] = phys
            out.append({**f, "metadata": md})
        return {**schema_json, "fields": out}, max_id

    def _for_write(
        self,
        carry_map: dict,
        schema_json: Optional[dict],
        df: DataFrame,
        stats_cols: Sequence[str],
        bloom_cols: Sequence[str],
    ) -> tuple:
        """(df, stats_cols, bloom_cols) translated logical → physical
        for a commit whose NEW tracked schema is ``schema_json`` —
        identity when the table is unmapped or untracked.  Stats and
        bloom indexes are therefore keyed by physical name on mapped
        tables (they survive renames); ``_stat_key`` translates on
        every probe."""
        pseudo = {**carry_map, "schema": schema_json}
        if schema_json is None or not self._mapping_enabled(pseudo):
            return df, list(stats_cols), list(bloom_cols)
        return (
            self._to_physical(df, pseudo),
            [self._stat_key(pseudo, c) for c in stats_cols],
            [self._stat_key(pseudo, c) for c in bloom_cols],
        )

    @classmethod
    def _carry_mapping(cls, m: dict) -> dict:
        """Column-mapping AND constraint state that ride along EVERY
        commit (unlike the ANALYZE profile, an overwrite keeps them:
        both are table properties, not content artifacts)."""
        return {
            k: m[k]
            for k in (
                "column_mapping",
                "max_column_id",
                "retired_cols",
                "constraints",
                "column_defaults",
                "generated_columns",
                "row_tracking",
                "row_id_hwm",
                "identity_cols",
            )
            if k in m
        }

    def enable_column_mapping(self, batch_id: Optional[str] = None) -> int:
        """Turn on column mapping for a schema-tracked table: a
        metadata-only commit stamping every tracked column with an
        immutable id and physical name (= its current name, so every
        already-written file is already physically correct — the same
        reason Delta's upgrade path needs no rewrite).  Idempotent via
        the ledger; re-enabling an already-mapped table is a no-op."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if self._mapping_enabled(m):
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if self._mapping_enabled(mm):
                return None
            if mm.get("schema") is None:
                raise ValueError(
                    "enable_column_mapping needs a schema-tracked table: "
                    "run commit_overwrite/compact/optimize once first"
                )
            # ids start past any prior counter (a restore to a
            # pre-mapping version keeps the counter monotone)
            fields, next_id = [], mm.get("max_column_id", 0)
            for f in mm["schema"]["fields"]:
                next_id += 1
                md = dict(f.get("metadata") or {})
                md[self._CM_ID] = next_id
                md[self._CM_PHYS] = f["name"]  # files already use it
                fields.append({**f, "metadata": md})
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "schema": {**mm["schema"], "fields": fields},
                "column_mapping": "name",
                "max_column_id": next_id,
                "retired_cols": [],
            }
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata", "delta", "reorg", "dml"}),
            "enable_column_mapping",
        )

    def rename_column(
        self, old: str, new: str, batch_id: Optional[str] = None
    ) -> int:
        """``ALTER TABLE .. RENAME COLUMN``: metadata-only — the
        column keeps its id and physical name, so not one data file is
        touched and its per-file stats/bloom indexes stay live.  Every
        logical reference in the manifest (key_columns, bloom_cols,
        ndv_cols + sketch keys, ANALYZE profile keys) follows the
        rename.  Requires column mapping (enable_column_mapping)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if not self._mapping_enabled(mm):
                raise ValueError(
                    "rename_column needs column mapping: call "
                    "enable_column_mapping() first"
                )
            names = [f["name"] for f in mm["schema"]["fields"]]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            self._guard_constraint_refs(mm, old, "rename_column")
            fields = [
                {**f, "name": new} if f["name"] == old else f
                for f in mm["schema"]["fields"]
            ]

            def _ren(seq):
                return [new if c == old else c for c in seq]

            new_m = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "schema": {**mm["schema"], "fields": fields},
            }
            if mm.get("constraints", {}).get("not_null"):
                # NOT NULL is a column property: it follows the rename
                new_m["constraints"] = {
                    **mm["constraints"],
                    "not_null": _ren(mm["constraints"]["not_null"]),
                }
            if mm.get("key_columns"):
                new_m["key_columns"] = _ren(mm["key_columns"])
            if mm.get("bloom_cols"):
                new_m["bloom_cols"] = _ren(mm["bloom_cols"])
            if mm.get("ndv_cols"):
                new_m["ndv_cols"] = _ren(mm["ndv_cols"])
            if old in mm.get("ndv", {}):
                new_m["ndv"] = {
                    (new if c == old else c): v
                    for c, v in mm["ndv"].items()
                }
            cs = mm.get("colstats")
            if cs and old in cs.get("columns", {}):
                new_m["colstats"] = {
                    **cs,
                    "columns": {
                        (new if c == old else c): v
                        for c, v in cs["columns"].items()
                    },
                }
            new_m.pop("reorg", None)
            new_m.pop("dml", None)
            new_m.pop("cdc_files", None)
            new_m.pop("restore_of", None)
            return new_m

        return self._commit_retrying(
            m, build, frozenset({"metadata", "delta", "reorg", "dml"}),
            "rename_column",
        )

    def drop_column(self, name: str, batch_id: Optional[str] = None) -> int:
        """``ALTER TABLE .. DROP COLUMN``: metadata-only — the field
        leaves the tracked schema and readers project its bytes away;
        no data file is touched.  The (id, physical) pair is RETIRED
        in the manifest so a later re-add of the same logical name
        mints a fresh id + physical name and can never resurrect the
        dropped data.  Key columns cannot be dropped (merge-on-read
        resolution needs them); dropping the last column is refused."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if not self._mapping_enabled(mm):
                raise ValueError(
                    "drop_column needs column mapping: call "
                    "enable_column_mapping() first"
                )
            fields = mm["schema"]["fields"]
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise ValueError(f"no such column: {name!r}")
            if name in (mm.get("key_columns") or []):
                raise ValueError(
                    f"cannot drop key column {name!r}: merge-on-read "
                    "resolution needs it"
                )
            if len(fields) == 1:
                raise ValueError("cannot drop the last column")
            self._guard_constraint_refs(mm, name, "drop_column")
            md = hit[0].get("metadata") or {}
            new_m = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "schema": {
                    **mm["schema"],
                    "fields": [f for f in fields if f["name"] != name],
                },
                "retired_cols": mm.get("retired_cols", [])
                + [{
                    "id": md.get(self._CM_ID),
                    "physical": md.get(self._CM_PHYS, name),
                }],
            }
            nn = (new_m.get("constraints") or {}).get("not_null", [])
            if name in nn:
                # the NOT NULL property disappears with its column
                new_m["constraints"] = {
                    **new_m["constraints"],
                    "not_null": [c for c in nn if c != name],
                }
            if name in (new_m.get("bloom_cols") or []):
                new_m["bloom_cols"] = [
                    c for c in new_m["bloom_cols"] if c != name
                ]
            if name in (new_m.get("ndv_cols") or []):
                new_m["ndv_cols"] = [
                    c for c in new_m["ndv_cols"] if c != name
                ]
                new_m["ndv"] = {
                    c: v for c, v in new_m.get("ndv", {}).items()
                    if c != name
                }
            cs = new_m.get("colstats")
            if cs and name in cs.get("columns", {}):
                new_m["colstats"] = {
                    **cs,
                    "columns": {
                        c: v for c, v in cs["columns"].items() if c != name
                    },
                }
            cd = new_m.get("column_defaults") or {}
            if name in cd:
                # the DEFAULT/generated declaration goes with its column
                new_m["column_defaults"] = {
                    c: v for c, v in cd.items() if c != name
                }
            gc = new_m.get("generated_columns") or {}
            if name in gc:
                new_m["generated_columns"] = {
                    c: v for c, v in gc.items() if c != name
                }
            new_m.pop("reorg", None)
            new_m.pop("dml", None)
            new_m.pop("cdc_files", None)
            new_m.pop("restore_of", None)
            return new_m

        return self._commit_retrying(
            m, build, frozenset({"metadata", "delta", "reorg", "dml"}),
            "drop_column",
        )

    def _read_base(
        self, spark: SparkSession, m: dict, names: Sequence[str]
    ) -> DataFrame:
        """Read BASE files under the manifest's tracked schema when one
        is recorded: a file written before a column was added (a
        carried-over entry of a pruned merge) null-fills that column
        at read time — the Delta/Iceberg log-schema read, which makes
        a heterogeneous base well-defined.  On a column-mapped table
        the read happens under PHYSICAL names (so renamed columns find
        their data and re-added ones null-fill on old files) and the
        result is aliased back to the logical schema.  Tables without
        a tracked schema (pre-evolution manifests) read raw, exactly
        as before.  When the version carries DELETION VECTORS
        (``delete_where(mode='dv')``), the suppressed positions are
        anti-joined away here — every reader path funnels through this
        method, so a dv is applied uniformly to snapshot reads, pruned
        reads, merge-on-read resolution and DML/maintenance rewrites.
        Files without dv entries keep their exact pre-dv scan plan."""
        if m.get("identity_cols"):
            # identity columns derive from the resolved row id — the
            # tagged read resolves + applies them (r18 #6)
            return self._read_base_tagged(spark, m, names).drop(
                "__dvf__", "__dvp__"
            )
        dv = m.get("dv")
        if dv and any(f in dv["rows"] for f in names):
            return self._read_base_tagged(spark, m, names).drop(
                "__dvf__", "__dvp__"
            )
        return self._scan_logical(spark, m, names)

    def _scan_logical(
        self,
        spark: SparkSession,
        m: dict,
        names: Sequence[str],
        tagged: bool = False,
        rowid: bool = False,
    ) -> DataFrame:
        """Tracked-schema scan with column DEFAULT / generated-column
        fill (r17 #6): files predating a defaulted column (their
        filemeta ``schema_v`` < the column's ``added_v``; files with
        no stamp predate everything) read that column as its DEFAULT
        expression — or its generation expression over the file's own
        rows — instead of null.  Files are grouped by their fill-set,
        so the common case (no defaults, or every file postdates them)
        stays ONE scan with zero plan change, and a mixed base costs
        one scan per distinct fill-set (bounded by the number of
        ADD COLUMN DEFAULT commits, not by files)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        cd = m.get("column_defaults") or {}
        sch = m.get("schema")
        if not cd or sch is None or not names:
            return self._scan_logical_raw(spark, m, names, tagged, rowid)
        tracked = {f.name: f.dataType for f in StructType.fromJson(sch).fields}
        live = {c: d for c, d in cd.items() if c in tracked}
        if not live:
            return self._scan_logical_raw(spark, m, names, tagged, rowid)
        fm = m.get("filemeta") or {}
        groups: dict[frozenset, list] = {}
        for f in names:
            sv = (fm.get(f) or {}).get("schema_v") or 0
            fill = frozenset(
                c for c, d in live.items() if sv < d["added_v"]
            )
            groups.setdefault(fill, []).append(f)
        if set(groups) == {frozenset()}:
            return self._scan_logical_raw(spark, m, names, tagged, rowid)
        out = None
        for fill, group in groups.items():
            df = self._scan_logical_raw(spark, m, group, tagged, rowid)
            # fill in ADD-COLUMN order: a generated column may only
            # reference columns that existed at its add time, so any
            # defaulted dependency has a smaller added_v and fills
            # first
            for c in sorted(
                fill, key=lambda c: (live[c]["added_v"], c)
            ):
                df = df.withColumn(
                    c, F.expr(live[c]["expr"]).cast(tracked[c])
                )
            out = df if out is None else out.unionByName(df)
        return out

    def _scan_logical_raw(
        self,
        spark: SparkSession,
        m: dict,
        names: Sequence[str],
        tagged: bool = False,
        rowid: bool = False,
    ) -> DataFrame:
        """The raw tracked-schema scan behind :meth:`_read_base` (no dv
        application).  ``tagged=True`` adds row provenance columns
        ``__dvf__`` (file basename) / ``__dvp__`` (position in file)
        from the parquet ``_metadata`` struct — computed AT THE SCAN,
        so they stay correct above joins where ``input_file_name()``
        is undefined.  ``rowid=True`` (row tracking, r17 #7) extends
        the read schema with the hidden physical ``__row_id__`` column
        — files that carry materialized ids (rewrites) surface them,
        everything else reads null and resolves to
        base_row_id + position in :meth:`_rowid_resolve`."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        def _tag(df: DataFrame, cols) -> DataFrame:
            if not tagged:
                return df.select(*cols) if cols is not None else df
            bad = self._DV_RESERVED & set(df.columns)
            if bad:
                raise ValueError(
                    f"tagged scan: column(s) {sorted(bad)} collide with "
                    "the reserved deletion-vector names — rename them "
                    "before using dv reads/DML"
                )
            return df.select(
                *(cols if cols is not None else df.columns),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__dvf__"),
                F.col("_metadata.row_index").alias("__dvp__"),
            )

        paths = [self._path(f) for f in names]
        sch = m.get("schema")
        if rowid and (sch is None or self._mapping_enabled(m)):
            raise ValueError(
                "row tracking requires a schema-tracked, unmapped "
                "table (enable_row_tracking enforces this)"
            )
        if sch is None:
            return _tag(_memo_read(spark, None, paths), None)
        st = StructType.fromJson(sch)
        if rowid:
            from pyspark.sql.types import LongType

            st = StructType(
                list(st.fields)
                + [StructField("__row_id__", LongType(), True)]
            )
        if not self._mapping_enabled(m):
            return _tag(_memo_read(spark, st, paths), None)
        phys = StructType(
            [
                StructField(self._phys_name(f), f.dataType, f.nullable)
                for f in st.fields
            ]
        )
        df = _memo_read(spark, phys, paths)
        return _tag(
            df,
            [
                F.col(p.name).alias(f.name)
                for p, f in zip(phys.fields, st.fields)
            ],
        )

    # Above this many suppressed rows the dv anti-join falls back from a
    # broadcast to a shuffled join — a wrong broadcast OOMs executors, a
    # wrong shuffle only costs an exchange (the join advisor's rule).
    _DV_BROADCAST_ROWS = 1_000_000

    def _read_base_tagged(
        self, spark: SparkSession, m: dict, names: Sequence[str],
        rowid: bool = False,
    ) -> DataFrame:
        """Provenance-tagged base read with the version's deletion
        vectors applied: rows carry ``__dvf__``/``__dvp__`` and any
        (file, position) pair named by the dv is anti-joined away.
        Only files WITH dv entries pay the join — clean files scan
        exactly as before and union in.  The dv side is broadcast
        while its metadata-known row count stays under
        ``_DV_BROADCAST_ROWS`` (suppression then costs a map-side
        hash probe per row, no shuffle); past that it degrades to a
        shuffled anti-join, never an executor OOM.

        ``rowid=True`` additionally RESOLVES the stable row id
        (materialized physical ids win, everything else derives
        ``base_row_id + position`` — one broadcast metadata join) and
        keeps ``__row_id__`` in the output.  On a table with declared
        IDENTITY columns (r18 #6) the resolution runs on EVERY tagged
        read and the identity columns are overwritten with their
        derived ``start + step * row_id`` values — stored bytes are
        never trusted — with ``__row_id__`` dropped again unless
        requested."""
        from pyspark.sql import functions as F

        idc = m.get("identity_cols") or {}
        want_ids = rowid or bool(idc)
        dv = m.get("dv")
        dirty = [f for f in names if dv and f in dv["rows"]]
        if not dirty:
            out = self._scan_logical(
                spark, m, names, tagged=True, rowid=want_ids
            )
        else:
            dset = set(dirty)
            clean = [f for f in names if f not in dset]
            ddf = self._scan_logical(
                spark, m, dirty, tagged=True, rowid=want_ids
            )
            out = ddf.join(
                self._dv_frame(spark, m, dirty),
                on=[
                    F.col("__dvf__") == F.col("__file__"),
                    F.col("__dvp__") == F.col("__pos__"),
                ],
                how="left_anti",
            )
            if clean:
                out = self._scan_logical(
                    spark, m, clean, tagged=True, rowid=want_ids
                ).unionByName(out)
        if want_ids:
            out = self._rowid_resolve(spark, m, out, names)
            if idc:
                out = self._apply_identity(m, out)
            if not rowid:
                out = out.drop("__row_id__")
        return out

    @staticmethod
    def _dv_read_schema():
        """The FIXED schema of every deletion-vector fileset (written
        by the dv DML paths as exactly ``__file__``/``__pos__``).
        Passing it explicitly skips the per-read footer/schema
        inference round trip — dv frames are rebuilt on every resolved
        read, so the inference cost repeated per plan (r19
        optimization, guide §1.2)."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            [
                StructField("__file__", StringType(), True),
                StructField("__pos__", LongType(), True),
            ]
        )

    def _dv_frame(self, spark: SparkSession, m: dict, dirty: Sequence[str]):
        """The deletion-vector side of the suppression anti-join — the
        ``(__file__, __pos__)`` pairs covering the ``dirty`` files,
        broadcast while small (see ``_DV_BROADCAST_ROWS``)."""
        from pyspark.sql import functions as F

        dv = m["dv"]
        # dv sidecar filesets are uuid4-immutable like base files, and a
        # dv-mode merge re-reads the same version's dv fileset per read
        # path — same relation memo as the base scan (metadata only)
        dvdf = _memo_read(
            spark, self._dv_read_schema(), [self._path(f) for f in dv["files"]]
        )
        # narrowing the dv side to the dirty files is an optimization
        # only (non-matching entries fall out of the anti-join anyway):
        # apply it while the IN-list stays codegen-friendly, and size
        # the broadcast decision by what the plan actually carries
        if len(dirty) <= 1000:
            dvdf = dvdf.filter(F.col("__file__").isin(list(dirty)))
            dv_rows = sum(dv["rows"][f] for f in dirty)
        else:
            # unfiltered plan: size by the PHYSICAL dv row count
            # ("total" includes entries gone stale under partial
            # rewrites — the live-rows sum would undercount what the
            # broadcast actually ships)
            dv_rows = dv.get("total", sum(dv["rows"].values()))
        if dv_rows <= self._DV_BROADCAST_ROWS:
            dvdf = F.broadcast(dvdf)
        return dvdf

    def _read_delta_tagged(
        self, spark: SparkSession, m: dict, names: Sequence[str]
    ) -> DataFrame:
        """Provenance-tagged raw read of DELTA fileset files with the
        version's deletion vectors applied — the delta-fileset twin of
        :meth:`_read_base_tagged` (a dv-mode ``merge_into`` over a
        table with outstanding deltas suppresses superseded delta rows
        and tombstones by position, exactly like base rows).  Reads
        RAW so the internal change-type marker survives, then maps
        physical names back to logical on a column-mapped table (the
        tags pass through ``_to_logical`` as unmapped columns).  Files
        without dv entries keep their plain scan and union in."""
        from pyspark.sql import functions as F

        def _tag(df: DataFrame) -> DataFrame:
            bad = self._DV_RESERVED & set(df.columns)
            if bad:
                raise ValueError(
                    f"tagged delta scan: column(s) {sorted(bad)} collide "
                    "with the reserved deletion-vector names — rename "
                    "them before using dv reads/DML"
                )
            return df.select(
                "*",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__dvf__"),
                F.col("_metadata.row_index").alias("__dvp__"),
            )

        dv = m.get("dv")
        dirty = [f for f in names if dv and f in dv["rows"]]
        dset = set(dirty)
        clean = [f for f in names if f not in dset]
        parts = []
        if dirty:
            parts.append(
                _tag(
                    _memo_read(spark, None, [self._path(f) for f in dirty])
                ).join(
                    self._dv_frame(spark, m, dirty),
                    on=[
                        F.col("__dvf__") == F.col("__file__"),
                        F.col("__dvp__") == F.col("__pos__"),
                    ],
                    how="left_anti",
                )
            )
        if clean:
            parts.append(
                _tag(
                    _memo_read(spark, None, [self._path(f) for f in clean])
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return self._to_logical(out, m)

    def _read_delta_logical(
        self, spark: SparkSession, m: dict, names: Sequence[str]
    ) -> DataFrame:
        """Raw delta-fileset read mapped to logical names, with the
        version's deletion vectors applied when any of ``names`` has
        entries (the common no-dv case keeps the exact pre-dv plan)."""
        dv = m.get("dv")
        if dv and any(f in dv["rows"] for f in names):
            return self._read_delta_tagged(spark, m, names).drop(
                "__dvf__", "__dvp__"
            )
        return self._to_logical(
            _memo_read(spark, None, [self._path(f) for f in names]), m
        )

    @staticmethod
    def _carry_dv(m: dict, carried: Optional[Sequence[str]] = None) -> dict:
        """The deletion-vector state that rides a commit: everything
        when the base fileset is untouched (``carried=None`` — delta
        appends, metadata commits, restore of a dv'd version), or
        filtered to the files actually carried over — a partial
        rewrite reads through :meth:`_read_base`, so it PHYSICALLY
        applied the dv of every file it rewrote.  Dv parquet rows for
        dropped base files go stale but stay harmless (their file
        names appear in no manifest entry; the anti-join never sees
        them) until compaction clears the dv entirely."""
        dv = m.get("dv")
        if not dv:
            return {}
        if carried is None:
            return {"dv": dv}
        cset = set(carried)
        rows = {f: n for f, n in dv["rows"].items() if f in cset}
        if not rows:
            return {}
        return {
            "dv": {
                "files": list(dv["files"]),
                "rows": rows,
                # physical rows across the dv files (monotone under
                # carries — stale entries still occupy their parquet
                # rows until compaction rewrites the base)
                "total": dv.get("total", sum(dv["rows"].values())),
            }
        }

    # -- read path ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        timestamp=None,
    ) -> Optional[DataFrame]:
        """Snapshot read of the BASE files: the file list is fixed the
        moment the manifest is parsed; concurrent commits can't change
        what this DataFrame scans (immutable files + explicit paths =
        snapshot isolation).  A table with outstanding merge-on-read
        deltas is read via ``read_resolved`` — this raw view
        deliberately exposes the un-merged base (compaction debugging,
        time travel).  Reads under the tracked table schema when the
        manifest records one (see ``_read_base``).  ``timestamp``
        (exclusive with ``version``) is ``TIMESTAMP AS OF``: the
        snapshot at the latest commit <= ts
        (:meth:`version_at_timestamp`)."""
        m = self._manifest_at(self._resolve_version(version, timestamp))
        if not m["files"]:
            return None
        return self._read_base(spark, m, m["files"])

    # -- row tracking (r17 directive #7, the Delta 3.x row-id shape) ------------

    def enable_row_tracking(self, batch_id: Optional[str] = None) -> int:
        """Give every row a STABLE numeric identity that survives
        reorganization: each file's ``filemeta`` gains a
        ``base_row_id`` and a row's id is ``base_row_id + position``
        until a rewrite MATERIALIZES ids into the new files as a
        hidden physical ``__row_id__`` column (invisible to normal
        reads — the tracked schema never contains it).  Fresh ids come
        from a monotone ``row_id_hwm`` advanced at the publish choke
        point, so every commit kind participates without its own
        logic.

        Scope contract (enforced loudly): the table must be
        schema-tracked, UNMAPPED, and delta-free at ENABLE time.  The
        merge-on-read delta tier then composes by DEFERRED assignment
        (r19 directive #2): ``commit_delta`` lands unidentified delta
        rows, resolved reads inherit the base id per existing key, and
        a delta-introduced key mints its id when it first materializes
        into base files (compaction / dv-merge rewrite) — Delta's
        lazy-id shape, so the cheap streaming-upsert ingest path works
        on tracked tables.  Every other write preserves ids:
        deletion-vector DML and the dv MERGE by construction (nothing
        rewrites), compact/OPTIMIZE by materializing them, and — r18
        directive #4 — the COPY-ON-WRITE DML/MERGE forms by reading
        their slice with resolved ids and materializing ``__row_id__``
        into the files they rewrite anyway (surviving and updated rows
        keep identity; merge inserts mint fresh ids from the
        high-water mark at publish).  This matches how the ids
        are consumed: ``read_rowids`` surfaces ``_row_id`` and the
        change feed carries ``__row_id__`` on every CDC image, so IVM
        consumers pair update pre/post by identity instead of
        re-keying by business key (the r16 verdict's missing piece
        #5)."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if mm.get("row_tracking"):
                return None  # idempotent
            if mm.get("schema") is None:
                raise ValueError(
                    "enable_row_tracking needs a schema-tracked table"
                )
            if self._mapping_enabled(mm):
                raise ValueError(
                    "row tracking and column mapping are mutually "
                    "exclusive in this build"
                )
            if mm.get("deltas"):
                raise ValueError(
                    "enable_row_tracking: compact() outstanding "
                    "merge-on-read deltas first (row identity is not "
                    "defined across LWW resolution)"
                )
            if any(
                f["name"] == "__row_id__"
                for f in mm["schema"]["fields"]
            ):
                raise ValueError(
                    "__row_id__ is reserved for row tracking — rename "
                    "the column first"
                )
            fm = dict(mm.get("filemeta") or {})
            hwm = 0
            for f in mm["files"]:
                rows = (fm.get(f) or {}).get("rows")
                if rows is None:
                    raise ValueError(
                        f"enable_row_tracking: file {f} has no recorded "
                        "row count (legacy manifest) — run optimize() "
                        "once first"
                    )
                fm[f] = {**fm[f], "base_row_id": hwm}
                hwm += int(rows)
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "filemeta": fm,
                "row_tracking": True,
                "row_id_hwm": hwm,
            }
            for k in ("reorg", "dml", "cdc_files", "restore_of"):
                new.pop(k, None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata"}), "enable_row_tracking"
        )

    # -- identity columns (r18 directive #6, the Delta IDENTITY shape) ----------

    def add_identity_column(
        self,
        name: str,
        start: int = 1,
        step: int = 1,
        batch_id: Optional[str] = None,
    ) -> int:
        """``ALTER TABLE .. ADD COLUMN .. GENERATED ALWAYS AS IDENTITY
        (START WITH start INCREMENT BY step)`` — a monotone
        auto-increment surrogate key, allocated from the table's
        row-id high-water mark at the ``_publish`` choke point: the
        value of a row is ``start + step * __row_id__``, where the row
        id is the stable identity row tracking already mints for every
        row.  That construction gives the Delta IDENTITY guarantees
        for free:

        - **collision-safe under OCC retry**: ids are implied by
          ``base_row_id`` ranges assigned AT PUBLISH, after conflict
          arbitration — two racing writers can never bake overlapping
          values into their files, because values are never baked in
          (reads derive them; rewrites may materialize row ids, whose
          ranges the hwm already reserved);
        - **monotone, gaps allowed** (exactly Delta's contract): the
          hwm only grows; rewrites burn id space without reuse;
        - **GENERATED ALWAYS**: every write path rejects a batch that
          provides the column — the table assigns it.

        Requires row tracking (``enable_row_tracking`` first — the
        machinery IS the allocator), which also means schema-tracked,
        unmapped, delta-tier-refused.  ``step`` may be negative
        (descending identity); zero raises.  The column is surfaced on
        every read (snapshot, pruned, DML/MERGE target slices, the
        change feed's DML/MERGE images); the CDC image of a row
        INSERTED by the same commit carries null — its id is minted at
        publish, after the CDC fileset is written — and resolves on
        the next snapshot read (blind-append feed events null-fill the
        same way)."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if not mm.get("row_tracking"):
                raise ValueError(
                    "add_identity_column needs row tracking (the row-id "
                    "high-water mark is the identity allocator) — call "
                    "enable_row_tracking() first"
                )
            if name in (mm.get("identity_cols") or {}):
                return None  # idempotent
            if any(
                f["name"] == name for f in mm["schema"]["fields"]
            ):
                raise ValueError(
                    f"add_identity_column: column {name!r} already "
                    "exists — identity only attaches to a NEW column"
                )
            if name == "__row_id__" or name in self._DV_RESERVED:
                raise ValueError(f"{name!r} is a reserved column name")
            schema = {
                **mm["schema"],
                "fields": list(mm["schema"]["fields"])
                + [{
                    "name": name,
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                }],
            }
            idc = dict(mm.get("identity_cols") or {})
            idc[name] = {"start": int(start), "step": int(step)}
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "schema": schema,
                "identity_cols": idc,
            }
            for k in ("reorg", "dml", "cdc_files", "restore_of"):
                new.pop(k, None)
            return new

        return self._commit_retrying(
            m, build, frozenset({"metadata"}), "add_identity_column"
        )

    def _apply_identity(self, m: dict, df: DataFrame) -> DataFrame:
        """Overwrite every declared identity column with its derived
        value ``start + step * __row_id__`` (stored bytes are never
        trusted — a rewrite may have persisted stale/null values; the
        derivation is the source of truth)."""
        from pyspark.sql import functions as F

        for c, d in (m.get("identity_cols") or {}).items():
            df = df.withColumn(
                c,
                (
                    F.lit(int(d["start"]))
                    + F.lit(int(d["step"])) * F.col("__row_id__")
                ).cast("long"),
            )
        return df

    def _require_no_identity_values(
        self, m: dict, cols, what: str
    ) -> None:
        bad = sorted(set(m.get("identity_cols") or {}) & set(cols))
        if bad:
            raise ValueError(
                f"{what}: identity column(s) {bad} are GENERATED "
                "ALWAYS — the table assigns them; drop them from the "
                "batch/source"
            )

    def _rowid_resolve(
        self, spark: SparkSession, m: dict, df: DataFrame,
        names: Sequence[str],
    ) -> DataFrame:
        """Resolve the raw physical ``__row_id__`` of a tagged+rowid
        scan: materialized ids win, everything else derives
        ``base_row_id + position`` via one BROADCAST join against the
        O(files) id map (metadata-sized — never a shuffle)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        fm = m.get("filemeta") or {}
        bmap = spark.createDataFrame(
            [(f, (fm.get(f) or {}).get("base_row_id")) for f in names],
            StructType([
                StructField("__rtf__", StringType(), False),
                StructField("__rtb__", LongType(), True),
            ]),
        )
        keep = [c for c in df.columns if c != "__row_id__"]
        return (
            df.join(
                F.broadcast(bmap),
                F.col("__dvf__") == F.col("__rtf__"),
                "left",
            ).select(
                *keep,
                F.coalesce(
                    F.col("__row_id__"),
                    F.col("__rtb__") + F.col("__dvp__"),
                ).cast("long").alias("__row_id__"),
            )
        )

    def _rowid_content(
        self, spark: SparkSession, m: dict, names: Sequence[str]
    ) -> Optional[DataFrame]:
        """Content columns + resolved ``__row_id__`` with the
        version's deletion vectors applied — the read every
        id-preserving rewrite and the public ``read_rowids`` share
        (the tagged read resolves ids — and derives identity columns —
        itself)."""
        if not names:
            return None
        return self._read_base_tagged(spark, m, names, rowid=True).drop(
            "__dvf__", "__dvp__"
        )

    def _resolved_with_rowids(
        self, spark: SparkSession, m: dict, prune: Optional[tuple] = None
    ) -> Optional[DataFrame]:
        """The resolved current content WITH the stable ``__row_id__``
        — the read every id-preserving materialization shares
        (compact/optimize fold, the dv MERGE's target slice,
        ``read_rowids``).  Compacted tables read base files directly;
        with outstanding deltas the ids ride the resolution's own
        key-window shuffle under deferred assignment (base-backed keys
        inherit, delta-only keys NULL — see :meth:`read_resolved`)."""
        if m.get("deltas"):
            return self.read_resolved(
                spark, version=m["version"], prune=prune, with_rowids=True
            )
        names = m["files"]
        if prune is not None:
            names, _n = self.prune_plan(
                prune[0], prune[1], prune[2], version=m["version"]
            )
        return self._rowid_content(spark, m, names) if names else None

    def read_rowids(
        self, spark: SparkSession, version: Optional[int] = None
    ) -> Optional[DataFrame]:
        """Snapshot read with the stable row id surfaced as
        ``_row_id`` (the Delta ``_metadata.row_id`` shape): tracked
        columns + one long column, unique over the visible rows of the
        version, stable across OPTIMIZE/compact, dv DELETE/UPDATE and
        the dv MERGE's updates.  With outstanding merge-on-read deltas
        the view is the RESOLVED one under deferred assignment: a key
        introduced by a delta reads ``_row_id`` NULL until compaction
        (or a dv-merge rewrite) first materializes it into base files
        (r19 directive #2)."""
        m = self._manifest_at(version)
        if not m.get("row_tracking"):
            raise ValueError(
                "row tracking is not enabled on this table (or not at "
                "this version) — call enable_row_tracking() first"
            )
        if not m["files"] and not m.get("deltas"):
            return None
        out = self._resolved_with_rowids(spark, m)
        if out is None:
            return None
        return out.withColumnRenamed("__row_id__", "_row_id")

    # -- write path -----------------------------------------------------------

    def _write_fileset(
        self, df: DataFrame, stats_cols: Sequence[str] = (),
        bloom_cols: Sequence[str] = (),
    ) -> tuple[list[str], dict, dict]:
        """Write df as a NEW set of immutable files in data/ and return
        (names, per-file column stats, per-file metadata).  Files are
        invisible until a manifest names them.

        The third element is ``{name: {"bytes": b, "rows": n}}`` —
        byte size and footer row count captured AT WRITE TIME (the
        Delta/Iceberg file-entry shape) and persisted in the manifest
        under ``"filemeta"``, so maintenance operations size and plan
        from metadata the manifest already holds instead of re-stating
        files (one object-store round-trip each) or re-counting rows
        (a data pass).  Bytes come from the one ``os.stat`` the rename
        loop already implies; rows ride the same distributed footer
        job as the column stats.

        ``stats_cols``: columns whose per-file [min, max] are read from
        the parquet FOOTERS and recorded in the manifest — the Iceberg/
        Delta data-skipping layout: the stats live in metadata, so a
        reader prunes files without opening them.

        ``bloom_cols``: columns additionally indexed with a per-file
        Bloom bitset (stored under the file's ``"bloom"`` stats key,
        stamped with the bloom scheme version ``"bloom_v"``) —
        equality-probe skipping for hash/uuid/string keys whose
        per-file [min, max] envelope spans the whole keyspace and
        prunes nothing.  Built at write time DISTRIBUTED: one Spark
        job over the staged files computes partial bitsets
        executor-side and the driver only OR-combines and stores the
        1 KiB results (the Iceberg puffin / Delta bloom-index shape —
        index build cost scales with the cluster, not the driver)."""
        # NOT underscore-prefixed: Hadoop path listings treat "_*" as
        # hidden, and the distributed bloom build reads this directory
        # back — a hidden-path filter would silently drop the scan.
        # Invisibility comes from the manifest protocol (nothing
        # references staged files), not from the name.
        staging = os.path.join(self.root, f"staging-{uuid.uuid4().hex}")
        # Write timestamps as INT64 micros (the Delta/Iceberg physical
        # type), not Spark's legacy INT96 default: INT96 columns carry
        # NO footer min/max statistics, so a ts stats_col would
        # silently record nothing and every time-range prune would
        # keep every file.  Saved/restored around the one write.
        spark = df.sparkSession
        _ts_key = "spark.sql.parquet.outputTimestampType"
        try:
            _ts_prev = spark.conf.get(_ts_key)
        except Exception:
            _ts_prev = None
        spark.conf.set(_ts_key, "TIMESTAMP_MICROS")
        try:
            df.write.mode("overwrite").parquet(staging)
        finally:
            if _ts_prev is not None:
                spark.conf.set(_ts_key, _ts_prev)
            else:
                spark.conf.unset(_ts_key)
        blooms: dict = {}
        if bloom_cols:
            blooms = self._build_blooms_distributed(
                df.sparkSession, staging, bloom_cols
            )
        footer = self._footer_stats_distributed(
            df.sparkSession, staging, stats_cols, with_rows=True
        )
        names: list[str] = []
        stats: dict = {}
        filemeta: dict = {}
        for f in sorted(os.listdir(staging)):
            if not f.endswith(".parquet"):
                continue
            name = f"{uuid.uuid4().hex}.parquet"
            src = os.path.join(staging, f)
            info = footer.get(f, {})
            entry: dict = {}
            if stats_cols:
                entry.update(info.get("cols", {}))
            if bloom_cols:
                entry["bloom"] = blooms.get(f, {})
                if entry["bloom"]:
                    entry["bloom_v"] = self._BLOOM_V
                else:
                    del entry["bloom"]
            if entry:
                stats[name] = entry
            filemeta[name] = {
                "bytes": os.path.getsize(src),
                "rows": info.get("rows"),
            }
            if "__row_id__" in df.columns:
                # row tracking: this fileset carries MATERIALIZED ids
                # (an id-preserving rewrite / dv-merge post images)
                filemeta[name]["row_id_phys"] = True
            os.replace(src, os.path.join(self.data_dir, name))
            names.append(name)
        shutil.rmtree(staging, ignore_errors=True)
        return names, stats, filemeta

    @staticmethod
    def _footer_stats(path: str, cols: Sequence[str]) -> dict:
        """Per-column [min, max] from the parquet footer's row-group
        statistics (no data pages read).  A column with missing stats
        in any row group is omitted — readers treat a missing stat as
        'unknown, cannot prune' (conservative).  Timestamp/date stats
        canonicalize to ISO strings (fixed-shape, lexicographic order
        == value order) so they survive the manifest's JSON round-trip
        and compare exactly in the scalar prune path; value types JSON
        cannot carry order-faithfully (bytes, Decimal) are omitted —
        unknown, never wrong."""
        import pyarrow.parquet as pq

        canon = ManifestTable._prune_canon
        meta = pq.ParquetFile(path).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        out: dict = {}
        for col in cols:
            if col not in idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                lo, hi = canon(lo), canon(hi)
                if all(
                    isinstance(v, (int, float, str)) for v in (lo, hi)
                ):
                    out[col] = [lo, hi]
        return out

    @staticmethod
    def _collect_index_metadata(df: DataFrame):
        """The package's ONE sanctioned driver materialization (the
        ``tests/test_plans.py`` no-collect gate allowlists exactly this
        call site): both index-build jobs — bloom partial bitsets and
        per-file footer [min, max] rows — funnel their results through
        here.  Input is always bounded O(files × cols) index METADATA
        (1 KiB bitsets / JSON stat rows), never table rows."""
        return df.toArrow()

    @classmethod
    def _footer_stats_distributed(
        cls,
        spark: SparkSession,
        staging: str,
        cols: Sequence[str],
        with_rows: bool = False,
        distributed: "bool | None" = None,
    ) -> dict:
        """Per-staged-file [min, max] column stats, computed
        DISTRIBUTED: one Spark job fans the staged file list out
        (one path per partition) and each executor runs the SAME
        ``_footer_stats`` parquet-footer reader on its files —
        bit-identical to the serial driver loop by construction, with
        the per-file results shipped back as JSON (lossless for every
        manifest-persistable stat type: the manifest itself is
        ``json.dump``-ed, so int/float/str round-trip exactly).
        Driver work is O(files × cols) small rows — the same metadata
        class as the bloom partials.  Same shared-filesystem
        requirement as the bloom build: executors read ``staging`` by
        path (HDFS/S3/NFS on a real cluster; local disk on local[k]).
        Returns ``{staged_basename: {col: [min, max]}}``.

        ``with_rows=True`` (the write-path mode) wraps each payload as
        ``{"cols": {col: [min, max]}, "rows": n}`` so one job returns
        both the stats envelope AND the footer row count — the per-file
        row counts the manifest persists so later maintenance
        (``optimize`` target sizing) never re-scans data for a number
        the footer already knew at commit time.

        ``distributed=None`` (the default) picks the execution shape by
        fileset size: a commit staging MORE files than
        ``defaultParallelism`` launches the distributed job (the index
        build scales with the cluster — the 100 TB commit shape), while
        a smaller fileset reads its footers in a bounded driver loop —
        the job's fan-out is capped by the file count anyway, and its
        fixed cost (createDataFrame + shuffle + Python-worker spin-up +
        Arrow collect) is ~two orders of magnitude above reading that
        many footers directly (r19 optimization; guide §1.2/§5 — don't
        pay a job launch for sub-task-sized metadata work).  Both
        shapes run the SAME ``_footer_stats`` reader and the driver
        loop round-trips its payloads through JSON exactly like the
        executor path, so the results are bit-identical by
        construction (pinned by ``TestDistributedFooterStats``).
        Tests force a shape with ``distributed=True/False``."""
        staged = [
            f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")
        ]
        if not staged or (not cols and not with_rows):
            return {}
        footer = cls._footer_stats
        cols_t = tuple(cols)
        if distributed is None:
            distributed = len(staged) > spark.sparkContext.defaultParallelism
        if not distributed:
            import pyarrow.parquet as _pq

            out: dict = {}
            for f in staged:
                p = os.path.join(staging, f)
                st = footer(p, cols_t) if cols_t else {}
                payload = (
                    {"cols": st, "rows": _pq.ParquetFile(p).metadata.num_rows}
                    if with_rows
                    else st
                )
                out[f] = json.loads(json.dumps(payload))
            return out

        def read_footers(batches):
            import json as _json

            import pyarrow as pa
            import pyarrow.parquet as _pq

            for batch in batches:
                names, blobs = [], []
                for p in batch.column(0).to_pylist():
                    names.append(os.path.basename(p))
                    st = footer(p, cols_t) if cols_t else {}
                    if with_rows:
                        payload = {
                            "cols": st,
                            "rows": _pq.ParquetFile(p).metadata.num_rows,
                        }
                    else:
                        payload = st
                    blobs.append(_json.dumps(payload))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(names, pa.string()), pa.array(blobs, pa.string())],
                    names=["name", "stats"],
                )

        paths = spark.createDataFrame(
            [(os.path.join(staging, f),) for f in staged], "path string"
        ).repartition(len(staged))
        rows = cls._collect_index_metadata(
            paths.mapInArrow(read_footers, "name string, stats string")
        )
        return {
            n: json.loads(s)
            for n, s in zip(
                rows.column("name").to_pylist(), rows.column("stats").to_pylist()
            )
        }

    #: driver-side value-count ceiling: a just-written fileset whose
    #: total bytes exceed this keeps the distributed aggregation even
    #: when its file count is small (a single fat file would otherwise
    #: pull a whole column through the driver).
    _DRIVER_COUNT_BYTES = 32 * 1024 * 1024

    def _written_value_counts(
        self,
        spark: SparkSession,
        files: Sequence[str],
        col: str,
        read_schema=None,
        distributed: "bool | None" = None,
    ) -> dict:
        """``value -> row count`` of one marker column across a
        JUST-WRITTEN fileset (dv suppression counts keyed by
        ``__file__``; CDC op metrics keyed by the change type).

        Adaptive like ``_footer_stats_distributed`` (r19/r20, guide
        §1.2/§5): the commit paths need these counts for the manifest
        they are about to publish, and re-reading a handful of
        KiB-sized files this process just wrote through a full Spark
        job (scan → partial agg → exchange → final agg → Arrow
        collect) costs a fixed ~0.1-0.4 s launch for microseconds of
        work.  Small filesets (≤ defaultParallelism files AND ≤
        ``_DRIVER_COUNT_BYTES`` total) read the single column on the
        driver with pyarrow; larger filesets — the 100 TB commit
        shape, where a merge's CDC is itself big data — keep the
        distributed aggregation.  Both paths produce identical exact
        counts (integer counts of identical stored values; pinned by
        ``TestWrittenValueCounts``)."""
        from pyspark.sql import functions as F

        if not files:
            return {}
        paths = [os.path.join(self.data_dir, f) for f in files]
        if distributed is None:
            try:
                total = sum(os.path.getsize(p) for p in paths)
            except OSError:
                total = None  # non-local data_dir: size unknown
            distributed = (
                total is None
                or total > self._DRIVER_COUNT_BYTES
                or len(files) > spark.sparkContext.defaultParallelism
            )
        if not distributed:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            out: dict = {}
            for p in paths:
                arr = pq.read_table(p, columns=[col]).column(col)
                for entry in pc.value_counts(arr).to_pylist():
                    out[entry["values"]] = (
                        out.get(entry["values"], 0) + int(entry["counts"])
                    )
            return out
        reader = (
            spark.read.schema(read_schema)
            if read_schema is not None
            else spark.read
        )
        tbl = self._collect_index_metadata(
            reader.parquet(*paths)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("__n__"))
        )
        return dict(
            zip(
                tbl.column(col).to_pylist(),
                (int(n) for n in tbl.column("__n__").to_pylist()),
            )
        )

    # -- bloom file index -------------------------------------------------

    _BLOOM_BITS = 8192  # m: 1 KiB bitset per file per column
    _BLOOM_K = 4  # hash functions; fp ≈ (1 - e^(-k·n/m))^k
    # Bloom SCHEME version, stamped per file entry ("bloom_v").  The
    # hash input changed in r8 (str(value) -> canonical numeric form),
    # so a bitset persisted by the old scheme probed with the new canon
    # is a silent FALSE NEGATIVE (bits set for '42.0', probed with
    # '42').  Readers trust a bitset only when its recorded version
    # matches; unversioned/older bitsets are treated as ABSENT
    # (conservative — the file is kept and scanned) until the next
    # rewrite/compaction rebuilds them under the current scheme.
    _BLOOM_V = 2

    @staticmethod
    def _bloom_canon(value) -> str:
        """Canonical string form of a value for bloom hashing.

        Numeric types are normalized so equal values hash identically
        regardless of Python type: an int column built from pyarrow
        (``42``) probed with ``42.0`` or ``Decimal('42')`` must hit the
        same bits — ``str()`` alone gives ``'42'`` vs ``'42.0'``, a
        silent bloom FALSE NEGATIVE that drops matching rows even
        though min/max pruning (numeric comparison) would keep the
        file.  Integral numbers canonicalize to their integer string;
        other reals to ``repr(float)`` (exact round-trip).  bool is
        excluded from the numeric path (``True == 1`` but a bool
        column is its own domain).  Non-numerics keep ``str(value)``.
        """
        import numbers

        if isinstance(value, numbers.Number) and not isinstance(value, bool):
            try:
                if value == int(value):
                    return str(int(value))
            except (OverflowError, ValueError):
                pass  # nan / inf: fall through to repr
            return repr(float(value))
        return str(value)

    @classmethod
    def _bloom_positions(cls, value) -> list[int]:
        """k deterministic bit positions for a value — md5 of the
        value's canonical string form with a per-hash seed, so the
        index is engine- and replay-portable (no process-seeded
        hashing)."""
        import hashlib

        s = cls._bloom_canon(value)
        return [
            int.from_bytes(
                hashlib.md5(f"{s}|{i}".encode()).digest()[:8], "big"
            )
            % cls._BLOOM_BITS
            for i in range(cls._BLOOM_K)
        ]

    @classmethod
    def _build_bloom(cls, path: str, col: str) -> Optional[str]:
        """Hex bitset over the file's values of ``col`` — the
        REFERENCE builder: one single-column pyarrow read, driver-side.
        The production write path uses ``_build_blooms_distributed``
        (same positions, executor-side); this single-file form defines
        the scheme and pins bit-for-bit equality in
        ``tests/test_manifest.py``."""
        import pyarrow.parquet as pq

        try:
            table = pq.read_table(path, columns=[col])
        except Exception:  # noqa: BLE001 — column absent: no index
            return None
        bits = bytearray(cls._BLOOM_BITS // 8)
        for v in table.column(col).to_pylist():
            if v is None:
                continue
            for pos in cls._bloom_positions(v):
                bits[pos // 8] |= 1 << (pos % 8)
        return bytes(bits).hex()

    @classmethod
    def _build_blooms_distributed(
        cls, spark: SparkSession, staging: str, cols: Sequence[str]
    ) -> dict:
        """Per-file Bloom bitsets for every staged parquet file,
        computed DISTRIBUTED: one Spark job maps Arrow batches to
        partial bitsets executor-side (``mapInArrow`` keeps values in
        Arrow — no pandas dtype coercion, so an int64 column with
        nulls hashes as ints, bit-for-bit the reference builder); the
        driver OR-combines the partials.  Driver work is O(files ×
        1 KiB) index metadata — the same class as the parquet footer
        stats read — never O(rows).  NOTE: the executor-side scan
        reads ``staging`` by path, so on a real multi-node cluster the
        staging dir must live on storage every executor can reach
        (HDFS/S3/NFS) — the same shared-filesystem assumption the rest
        of this module (os.listdir/os.replace commit swap) already
        makes; on local[k] the local disk satisfies it.  Returns
        ``{staged_basename: {col: hex_bitset}}`` with an all-zero
        bitset for a zero-row file (proves every probe absent, exactly
        like the reference builder)."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        staged = [
            f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")
        ]
        if not staged:
            return {}
        sdf = spark.read.parquet(staging)
        present = [c for c in cols if c in sdf.columns]
        if not present:
            return {}
        nbytes = cls._BLOOM_BITS // 8
        positions = cls._bloom_positions
        canon = cls._bloom_canon

        def partial(batches):
            import pyarrow as pa

            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                files = tbl.column("__file__").to_pylist()
                by_file: dict = {}
                for i, f in enumerate(files):
                    by_file.setdefault(f, []).append(i)
                for fpath, idxs in by_file.items():
                    fname = os.path.basename(unquote(urlparse(fpath).path))
                    sub = tbl.take(idxs)
                    out_files, out_cols, out_bits = [], [], []
                    for c in present:
                        bits = bytearray(nbytes)
                        seen = set()
                        for v in sub.column(c).to_pylist():
                            if v is None:
                                continue
                            # the canon string IS the hash input: equal
                            # canon => identical positions, so it's the
                            # exact dedup key
                            key = canon(v)
                            if key in seen:
                                continue
                            seen.add(key)
                            for pos in positions(v):
                                bits[pos // 8] |= 1 << (pos % 8)
                        out_files.append(fname)
                        out_cols.append(c)
                        out_bits.append(bytes(bits))
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(out_files, pa.string()),
                            pa.array(out_cols, pa.string()),
                            pa.array(out_bits, pa.binary()),
                        ],
                        names=["file", "col", "bits"],
                    )

        rows = cls._collect_index_metadata(
            sdf.select(F.input_file_name().alias("__file__"), *present)
            .mapInArrow(partial, "file string, col string, bits binary")
            # O(partitions × cols) 1 KiB partial bitsets — bounded index
            # metadata, not table data
        )
        merged: dict = {
            f: {c: bytearray(nbytes) for c in present} for f in staged
        }
        for fname, c, b in zip(
            rows.column("file").to_pylist(),
            rows.column("col").to_pylist(),
            rows.column("bits").to_pylist(),
        ):
            acc = merged.setdefault(fname, {}).setdefault(c, bytearray(nbytes))
            for i, byte in enumerate(b):
                acc[i] |= byte
        return {
            f: {c: bytes(bits).hex() for c, bits in d.items()}
            for f, d in merged.items()
        }

    def _bloom_may_contain(self, m: dict, name: str, col: str, value) -> bool:
        """False only when the file's bloom PROVES the value absent;
        missing index → True (conservative, like missing min/max).  A
        bitset whose recorded scheme version (``bloom_v``) doesn't
        match the current ``_BLOOM_V`` is treated as absent: probing
        an old-scheme bitset with new-scheme positions would be a
        silent false NEGATIVE, the one failure bloom pruning must
        never have."""
        entry = m.get("stats", {}).get(name, {})
        if entry.get("bloom_v") != self._BLOOM_V:
            return True
        b = entry.get("bloom", {}).get(self._stat_key(m, col))
        if b is None:
            return True
        bits = bytes.fromhex(b)
        return all(
            bits[pos // 8] & (1 << (pos % 8))
            for pos in self._bloom_positions(value)
        )

    def prune_plan_eq(
        self, col: str, value, version: Optional[int] = None
    ) -> tuple[list[str], int]:
        """(files that may contain col == value, total) — combines the
        [min, max] envelope with the bloom bitset, metadata-only."""
        m = self._manifest_at(version)
        files = m["files"]
        pv = self._prune_canon(value)
        mask = (
            self._prune_mask(m, {col: (pv, pv)}) if files else None
        )
        if mask is not None:
            import numpy as np

            # envelope vectorized; the bloom probe runs only over the
            # envelope survivors (already the small set)
            keep = [
                files[i]
                for i in np.nonzero(mask)[0]
                if self._bloom_may_contain(m, files[i], col, value)
            ]
            return keep, len(files)
        keep = [
            f
            for f in files
            if self._overlaps(m, f, col, value, value)
            and self._bloom_may_contain(m, f, col, value)
        ]
        return keep, len(files)

    def read_pruned_eq(
        self, spark: SparkSession, col: str, value, version: Optional[int] = None
    ) -> Optional[DataFrame]:
        """Equality-probe read: bloom + stats file skipping, then the
        exact predicate inside the survivors.  The point lookup shape —
        at warehouse scale this opens ~1 file (+ false positives)
        instead of every file whose min/max spans a hashed keyspace."""
        from pyspark.sql import functions as F

        self._require_no_deltas(version, "read_pruned_eq")
        keep, _total = self.prune_plan_eq(col, value, version)
        if not keep:
            full = self.read(spark, version)
            return None if full is None else full.limit(0)
        df = self._read_base(spark, self._manifest_at(version), keep)
        return df.filter(F.col(col) == value)

    def _require_no_deltas(self, version: Optional[int], caller: str) -> None:
        """The pruned readers scan BASE files only; on a table with
        outstanding merge-on-read deltas they would silently return
        stale pre-delta rows (``commit_merge`` refuses for the same
        reason).  Fail loudly and point at the resolving reader."""
        m = self._manifest_at(version)
        if m.get("deltas"):
            raise ValueError(
                f"{caller} reads base files only but this version has "
                f"{len(m['deltas'])} outstanding merge-on-read delta "
                "commit(s): use read_resolved(spark, prune=(col, lo, hi)) "
                "or compact() first"
            )

    # -- stats-based file pruning ----------------------------------------

    # -- generation-expression pruning (r18 directive #5) -----------------
    #
    # A table that declares ``event_date`` generated as
    # ``CAST(ts AS DATE)`` exists to be PRUNED on ``event_date`` —
    # Delta derives partition/file skipping through the generation
    # expression, and so does this planner: for the recognized
    # MONOTONE forms below, a file's stats on the source column prove
    # bounds on the generated column ((f(lo), f(hi)) covers f over
    # [lo, hi]) and a predicate's bounds map forward the same way, so
    # BOTH directions skip files — a predicate on the generated column
    # prunes via source-column stats, and a predicate on the source
    # prunes via generated-column stats.  Every derived test is one
    # more INDEPENDENT disjointness proof: a file is dropped when ANY
    # proof shows it cannot match, kept otherwise (conservative).
    #
    # Recognized forms (parsed from the declared expression text):
    #   CAST(s AS DATE) / to_date(s) / date(s)      — ISO prefix [:10]
    #   date_trunc('YEAR|MONTH|DAY|HOUR|MINUTE', s) — ISO truncation
    #   year(s)                                     — int(ISO[:4])
    #   s + c / s - c / c + s / s * c / c * s / s / c   (c > 0 for */)
    #   s % N / pmod(s, N)                          — residue proof for
    #       equality probes: a file spanning < N consecutive ints can
    #       only contain residues in its wrapped window.
    # Timestamp/date stats are ISO strings (see _footer_stats), whose
    # lexicographic order equals value order, so prefix truncation is
    # monotone by construction.

    _GEN_DATE_RE = re.compile(
        r"(?is)^\s*(?:CAST\s*\(\s*(\w+)\s+AS\s+DATE\s*\)"
        r"|TO_DATE\s*\(\s*(\w+)\s*\)|DATE\s*\(\s*(\w+)\s*\))\s*$"
    )
    _GEN_TRUNC_RE = re.compile(
        r"(?is)^\s*DATE_TRUNC\s*\(\s*'(YEAR|MONTH|DAY|HOUR|MINUTE)'\s*,"
        r"\s*(\w+)\s*\)\s*$"
    )
    _GEN_YEAR_RE = re.compile(r"(?is)^\s*YEAR\s*\(\s*(\w+)\s*\)\s*$")
    _GEN_AFFINE_RE = re.compile(
        r"(?s)^\s*(\w+)\s*([+\-*/])\s*(\d+(?:\.\d+)?)\s*$"
    )
    _GEN_AFFINE_L_RE = re.compile(
        r"(?s)^\s*(\d+(?:\.\d+)?)\s*([+*])\s*(\w+)\s*$"
    )
    _GEN_MOD_RE = re.compile(
        r"(?is)^\s*(?:(\w+)\s*%\s*(\d+)|PMOD\s*\(\s*(\w+)\s*,\s*(\d+)\s*\))\s*$"
    )
    _TRUNC_CUT = {"YEAR": 4, "MONTH": 7, "DAY": 10, "HOUR": 13, "MINUTE": 16}
    _TRUNC_PAD = {
        "YEAR": "-01-01 00:00:00",
        "MONTH": "-01 00:00:00",
        "DAY": " 00:00:00",
        "HOUR": ":00:00",
        "MINUTE": ":00",
    }

    @staticmethod
    def _prune_canon(v):
        """Canonical JSON-safe prune value: timestamps/dates become
        ISO strings whose lexicographic order equals value order
        (``isoformat(sep=' ')`` — fixed-width prefix, fractional
        seconds only lengthen).  Aware timestamps normalize to naive
        UTC first so footer stats (pyarrow: UTC-aware) and probe
        values (usually naive, session tz is UTC) compare in ONE
        format — a trailing ``+00:00`` on one side only would shift
        boundary comparisons."""
        import datetime

        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            return v.isoformat(sep=" ")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    @classmethod
    def _gen_forms(cls, m: dict) -> dict:
        """``{generated_col: (source_col, kind, param)}`` for the
        declared generation expressions the pruner understands;
        unrecognized expressions simply contribute no derived proof."""
        gc = m.get("generated_columns") or {}
        out: dict = {}
        for g, e in gc.items():
            mm = cls._GEN_DATE_RE.match(e)
            if mm:
                out[g] = (next(filter(None, mm.groups())), "date", None)
                continue
            mm = cls._GEN_TRUNC_RE.match(e)
            if mm:
                out[g] = (mm.group(2), "trunc", mm.group(1).upper())
                continue
            mm = cls._GEN_YEAR_RE.match(e)
            if mm:
                out[g] = (mm.group(1), "year", None)
                continue
            mm = cls._GEN_AFFINE_RE.match(e)
            if mm:
                src, op, c = mm.group(1), mm.group(2), float(mm.group(3))
                if not src[0].isdigit() and (op in "+-" or c > 0):
                    out[g] = (src, "affine", (op, c))
                continue
            mm = cls._GEN_AFFINE_L_RE.match(e)
            if mm:
                c, op, src = float(mm.group(1)), mm.group(2), mm.group(3)
                if not src[0].isdigit() and (op == "+" or c > 0):
                    out[g] = (src, "affine", (op, c))
                continue
            mm = cls._GEN_MOD_RE.match(e)
            if mm:
                src = mm.group(1) or mm.group(3)
                n = int(mm.group(2) or mm.group(4))
                if n > 0:
                    out[g] = (src, "mod", n)
        return out

    @classmethod
    def _gen_apply(cls, kind: str, param, v):
        """Map one value through a monotone generated form; None in or
        an un-mappable value yields None ('unknown' — no proof)."""
        if v is None:
            return None
        v = cls._prune_canon(v)
        if kind == "affine":
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                return None
            op, c = param
            return (
                v + c if op == "+"
                else v - c if op == "-"
                else v * c if op == "*"
                else v / c
            )
        if not isinstance(v, str):
            return None
        if kind == "date":
            return v[:10] if len(v) >= 10 else None
        if kind == "year":
            return int(v[:4]) if len(v) >= 4 and v[:4].isdigit() else None
        # trunc
        cut = cls._TRUNC_CUT[param]
        if len(v) < cut:
            return None
        return v[:cut] + cls._TRUNC_PAD[param]

    @staticmethod
    def _prune_disjoint(lo, hi, fmin, fmax) -> bool:
        """Provably-disjoint test with None = unknown/unbounded (never
        a proof) and mixed-type comparisons treated as unknown."""
        try:
            if lo is not None and fmax is not None and fmax < lo:
                return True
            if hi is not None and fmin is not None and fmin > hi:
                return True
        except TypeError:
            return False
        return False

    def _has_prune_stats(self, m: dict, col: str) -> bool:
        """True when some base or delta file records stats that
        :meth:`_overlaps` can use to skip it for ``col`` — its own
        [min, max], or a recognized generated counterpart's.  Without
        any, every file overlaps every range, so a MERGE skips the
        bounds job on its source instead of paying for nothing."""
        forms = self._gen_forms(m)
        cols = {col}
        if col in forms:
            cols.add(forms[col][0])
        cols |= {
            g for g, (src, kind, _p) in forms.items()
            if src == col and kind != "mod"
        }
        want = {self._stat_key(m, c) for c in cols}
        stats = m.get("stats", {})
        deltas = [f for fs in m.get("deltas", []) for f in fs]
        return any(
            want & stats.get(f, {}).keys() for f in m["files"] + deltas
        )

    def _overlaps(self, m: dict, name: str, col: str, lo, hi) -> bool:
        """True when file ``name`` may contain rows with col in [lo, hi]
        — missing stats mean 'unknown' and the file is kept (pruning
        must be conservative, exactly like Iceberg's inclusive
        projection).  When the table declares generated columns in a
        recognized monotone form, the source/generated counterpart's
        stats contribute additional disjointness proofs (r18 #5)."""
        lo, hi = self._prune_canon(lo), self._prune_canon(hi)
        stats = m.get("stats", {}).get(name, {})
        s = stats.get(self._stat_key(m, col))
        # a None envelope side is 'unknown' (an all-null column's
        # footer min/max) — keep, never crash (found by the r17
        # vectorized-prune property battery)
        if s is not None and self._prune_disjoint(lo, hi, s[0], s[1]):
            return False
        forms = self._gen_forms(m)
        if forms:
            f = forms.get(col)
            if f is not None:
                src, kind, param = f
                ss = stats.get(self._stat_key(m, src))
                if ss is not None:
                    if kind == "mod":
                        if not self._mod_may_contain(ss, param, lo, hi):
                            return False
                    else:
                        if self._prune_disjoint(
                            lo,
                            hi,
                            self._gen_apply(kind, param, ss[0]),
                            self._gen_apply(kind, param, ss[1]),
                        ):
                            return False
            for g, (src, kind, param) in forms.items():
                if src != col or kind == "mod":
                    continue
                gs = stats.get(self._stat_key(m, g))
                if gs is not None and self._prune_disjoint(
                    self._gen_apply(kind, param, lo),
                    self._gen_apply(kind, param, hi),
                    gs[0],
                    gs[1],
                ):
                    return False
        return True

    @staticmethod
    def _mod_may_contain(src_stats, n: int, lo, hi) -> bool:
        """Residue proof for ``g = s % N`` equality probes: a file
        whose source spans fewer than N consecutive integers can only
        contain the residues of its wrapped window."""
        if lo is None or lo != hi:
            return True  # only equality probes prove anything
        smin, smax = src_stats
        if not all(
            isinstance(v, int) and not isinstance(v, bool)
            for v in (smin, smax, lo)
        ):
            return True
        if smax - smin >= n - 1:
            return True  # every residue present
        return (lo - smin) % n <= smax - smin

    _PRUNE_IDX_MAX = 16
    _F64_EXACT = float(2**53)  # ints beyond this round in float64

    #: string-index sentinels: a missing min compares below every real
    #: value, a missing max above — so a missing side can never PROVE
    #: disjointness (the conservative rule), exactly like NaN in the
    #: numeric index
    _STR_LO_SENT = ""
    _STR_HI_SENT = "\U0010ffff"

    def _prune_index(self, m: dict, col: str):
        """Per-(version, stat-key) stats index: ``("num", mins, maxs)``
        — aligned numpy float64 arrays with NaN for files without
        stats (NaN compares False against any bound: the conservative
        'unknown → keep' rule) — or ``("str", mins, maxs)`` — numpy
        unicode arrays with ordered sentinels for missing sides (ISO
        timestamp/date stats compare lexicographically == by value, so
        time-range pruning vectorizes too, r18 #5).  One vectorized
        compare replaces the per-file Python loop (r17 directive #4).
        Returns None when the column's stats fit neither index exactly
        (|int| > 2^53, NaN floats, mixed numeric/string) — those fall
        back to the scalar loop, whose keep-set the property battery
        pins as identical.  Cache entries are validated by IDENTITY of
        the manifest's file list (materialized manifests are immutable
        and cache-shared, so same list object == same version
        content)."""
        skey = self._stat_key(m, col)
        files = m.get("files", [])
        key = (m.get("version"), skey)
        ent = self._prune_idx.get(key)
        if ent is not None and ent[0] is files:
            return ent[1]
        import math

        import numpy as np

        stats = m.get("stats", {})
        n = len(files)
        vals: list = [None] * n  # (fmin, fmax) per file, or None
        kind: Optional[str] = None
        ok = True
        for i, f in enumerate(files):
            s = stats.get(f)
            s = s.get(skey) if s else None
            if s is None:
                continue
            fmin, fmax = s
            for v in (fmin, fmax):
                if v is None:
                    continue
                if isinstance(v, str):
                    vk = "str"
                elif isinstance(v, bool):
                    ok = False
                    break
                elif isinstance(v, (int, float)):
                    vk = "num"
                    if isinstance(v, int) and abs(v) > self._F64_EXACT:
                        ok = False
                        break
                    if isinstance(v, float) and math.isnan(v):
                        ok = False  # 'unknown', not 'keep-proof'
                        break
                else:
                    ok = False
                    break
                if kind is None:
                    kind = vk
                elif kind != vk:
                    ok = False  # mixed types: scalar fallback
                    break
            if not ok:
                break
            vals[i] = (fmin, fmax)
        if not ok:
            idx = None
        elif kind == "str":
            mins = np.array([
                v[0] if v is not None and v[0] is not None
                else self._STR_LO_SENT
                for v in vals
            ])
            maxs = np.array([
                v[1] if v is not None and v[1] is not None
                else self._STR_HI_SENT
                for v in vals
            ])
            idx = ("str", mins, maxs)
        else:
            # numeric (or entirely stats-free: all-NaN numeric arrays
            # keep every file, compatible with either probe kind)
            mins = np.full(n, np.nan)
            maxs = np.full(n, np.nan)
            for i, v in enumerate(vals):
                if v is None:
                    continue
                if v[0] is not None:
                    mins[i] = v[0]
                if v[1] is not None:
                    maxs[i] = v[1]
            idx = ("num", mins, maxs)
        self._prune_idx[key] = (files, idx)
        while len(self._prune_idx) > self._PRUNE_IDX_MAX:
            self._prune_idx.pop(next(iter(self._prune_idx)))
        return idx

    def prune_plan(
        self, col: str, lo=None, hi=None, version: Optional[int] = None
    ) -> tuple[list[str], int]:
        """(files that may match [lo, hi], total file count) for a
        version — metadata-only, no data files opened."""
        return self.prune_plan_multi({col: (lo, hi)}, version)

    def _prune_mask(self, m: dict, bounds: dict):
        """Boolean numpy keep-mask over ``m['files']`` for a
        conjunction of range bounds, or None when any bounded column
        needs the scalar fallback.  Numeric probes run against the
        float64 index; STRING probes (canonicalized timestamps/dates)
        against the unicode index.  Generated forms contribute their
        derived disjointness proofs vectorized too — affine/mod on the
        numeric side, date/trunc truncations on the string side (r18
        #5); the one form the mask cannot express (an integer
        ``year()`` probe proven from string source stats) defers the
        whole plan to the scalar loop so no proof is silently lost.
        The contract the property battery pins: the mask applies
        EVERY proof the scalar path would, or returns None."""
        import numpy as np

        forms = self._gen_forms(m)

        def _index(c, want_kind):
            idx = self._prune_index(m, c)
            if idx is None:
                return None
            k, mins, maxs = idx
            if k != want_kind:
                # an all-missing column materializes as all-NaN
                # numeric: it proves nothing for either probe kind
                if k == "num" and np.isnan(mins).all():
                    return (
                        np.full(len(mins), self._STR_LO_SENT),
                        np.full(len(mins), self._STR_HI_SENT),
                    ) if want_kind == "str" else (mins, maxs)
                return None
            return mins, maxs

        mask = None
        for col, (lo, hi) in bounds.items():
            kinds = {
                "num" if isinstance(b, (int, float)) else
                "str" if isinstance(b, str) else None
                for b in (lo, hi)
            } - {None}
            if len(kinds) != 1 or any(
                isinstance(b, bool) for b in (lo, hi)
            ):
                return None  # unbounded-both, mixed or exotic: scalar
            pk = kinds.pop()
            idx = _index(col, pk)
            if idx is None:
                return None
            mins, maxs = idx
            drop = np.zeros(len(mins), dtype=bool)
            if lo is not None:
                drop |= maxs < lo  # NaN/sentinel never proves: kept
            if hi is not None:
                drop |= mins > hi
            # derived proofs through generated forms (r18 #5)
            f = forms.get(col)
            if f is not None:
                src, kind, param = f
                if pk == "num" and kind == "affine":
                    sidx = _index(src, "num")
                    if sidx is None:
                        return None
                    glo = self._affine_vec(np, sidx[0], param)
                    ghi = self._affine_vec(np, sidx[1], param)
                    if lo is not None:
                        drop |= ghi < lo
                    if hi is not None:
                        drop |= glo > hi
                elif pk == "num" and kind == "mod":
                    if (
                        lo is not None
                        and lo == hi
                        and float(lo).is_integer()
                    ):
                        sidx = _index(src, "num")
                        if sidx is None:
                            return None
                        smin, smax = sidx
                        span = smax - smin  # NaN propagates → keep
                        with np.errstate(invalid="ignore"):
                            absent = ~(
                                (span >= param - 1)
                                | (np.mod(float(lo) - smin, param) <= span)
                            )
                        absent &= ~np.isnan(span)
                        drop |= absent
                elif pk == "str" and kind in ("date", "trunc"):
                    sidx = _index(src, "str")
                    if sidx is None:
                        return None
                    ck = (m.get("version"), f"map:{src}:{kind}:{param}")
                    ent = self._prune_idx.get(ck)
                    if ent is not None and ent[0] is m.get("files"):
                        glo, ghi = ent[1]
                    else:
                        glo = self._str_map_vec(
                            np, sidx[0], kind, param, self._STR_LO_SENT
                        )
                        ghi = self._str_map_vec(
                            np, sidx[1], kind, param, self._STR_HI_SENT
                        )
                        self._prune_idx[ck] = (m.get("files"), (glo, ghi))
                        while len(self._prune_idx) > self._PRUNE_IDX_MAX:
                            self._prune_idx.pop(
                                next(iter(self._prune_idx))
                            )
                    if lo is not None:
                        drop |= ghi < lo
                    if hi is not None:
                        drop |= glo > hi
                elif pk == "num" and kind == "year":
                    # the one proof the mask cannot express but the
                    # scalar path can (integer year() probe vs string
                    # source stats): defer the whole plan
                    return None
                # every other probe-kind × form combination yields no
                # proof in the scalar path either (mixed-type compares
                # are 'unknown'): nothing to add
            for g, (src, kind, param) in forms.items():
                if src != col:
                    continue
                if kind == "mod":
                    continue  # no source→bucket derivation
                flo = (
                    self._gen_apply(kind, param, lo)
                    if lo is not None else None
                )
                fhi = (
                    self._gen_apply(kind, param, hi)
                    if hi is not None else None
                )
                if flo is None and fhi is None:
                    continue  # unmappable probe: no proof either path
                gk = "num" if isinstance(
                    flo if flo is not None else fhi, (int, float)
                ) else "str"
                gidx = _index(g, gk)
                if gidx is None:
                    return None
                gmin, gmax = gidx
                if flo is not None:
                    drop |= gmax < flo
                if fhi is not None:
                    drop |= gmin > fhi
            mask = ~drop if mask is None else mask & ~drop
        return mask

    @staticmethod
    def _affine_vec(np, arr, param):
        op, c = param
        if op == "+":
            return arr + c
        if op == "-":
            return arr - c
        if op == "*":
            return arr * c
        return arr / c

    @classmethod
    def _str_map_vec(cls, np, arr, kind, param, sentinel):
        """Vectorized string truncation mapper: apply the date/trunc
        form to every non-sentinel entry (numpy fixed-width casts ARE
        prefix truncation; order-preserving by construction), keeping
        sentinel entries as sentinels so a missing side still never
        proves disjointness."""
        miss = arr == sentinel
        if kind == "date":
            need = 10
            out = arr.astype("<U10")
        else:
            need = cls._TRUNC_CUT[param]
            out = np.char.add(
                arr.astype(f"<U{need}"), cls._TRUNC_PAD[param]
            )
        # entries too short to truncate are 'unknown' in the scalar
        # path (_gen_apply returns None): neutralize them, and restore
        # sentinels (both fit any fixed width in play)
        out[miss | (np.char.str_len(arr) < need)] = sentinel
        return out

    def prune_plan_multi(
        self, bounds: dict, version: Optional[int] = None
    ) -> tuple[list[str], int]:
        """Multi-predicate file pruning: ``bounds`` maps column ->
        (lo, hi); a file survives only when its stats overlap EVERY
        bound (Iceberg's inclusive projection over a conjunction).
        This is what a Z-order-clustered layout exists for — each
        file's envelope is narrow in ALL clustered dimensions, so a
        predicate on either (or both) columns skips files; a layout
        clustered on one key prunes only that key.

        Planning cost: one vectorized numpy compare per bounded column
        over a per-version cached index (built once, O(files)); the
        scalar per-file loop remains only as the fallback for stats
        float64 cannot represent exactly (strings, huge ints) — the
        keep-sets are property-tested identical.

        Generated columns (r18 #5): bounds on a column that IS a
        declared generated column in a recognized monotone form — or
        that is the SOURCE of one — additionally prune through the
        counterpart column's stats (``event_date = CAST(ts AS DATE)``
        prunes on either column's stats from a predicate on either).
        Probe values canonicalize like the stats do (datetime/date →
        ISO strings), so time-typed bounds compare exactly."""
        m = self._manifest_at(version)
        bounds = {
            c: (self._prune_canon(lo), self._prune_canon(hi))
            for c, (lo, hi) in bounds.items()
        }
        files = m["files"]
        mask = self._prune_mask(m, bounds) if files else None
        if mask is not None:
            import numpy as np

            keep = [files[i] for i in np.nonzero(mask)[0]]
            return keep, len(files)
        keep = [
            f
            for f in files
            if all(
                self._overlaps(m, f, col, lo, hi)
                for col, (lo, hi) in bounds.items()
            )
        ]
        return keep, len(files)

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Snapshot read of rows with col in [lo, hi]: files are pruned
        by manifest stats FIRST (skipped files are never opened), then
        the predicate applies within the surviving files — file-level
        skipping composed with ordinary row-group pushdown."""
        return self.read_pruned_multi(spark, {col: (lo, hi)}, version)

    def read_pruned_multi(
        self,
        spark: SparkSession,
        bounds: dict,
        version: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Snapshot read under a CONJUNCTION of range predicates:
        manifest-stats file skipping on every bounded column, then the
        predicates apply within the survivors (and reach the parquet
        row groups via ordinary pushdown).

        Raises on a table with outstanding merge-on-read deltas — a
        base-only read there would return stale pre-delta rows; use
        ``read_resolved`` (key-column pruning) or ``compact`` first."""
        from pyspark.sql import functions as F

        self._require_no_deltas(version, "read_pruned_multi")
        keep, _total = self.prune_plan_multi(bounds, version)
        if not keep:
            full = self.read(spark, version)
            return None if full is None else full.limit(0)
        df = self._read_base(spark, self._manifest_at(version), keep)
        for col, (lo, hi) in bounds.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    def _manifest_at(self, version: Optional[int]) -> dict:
        if version is None:
            return self._read_manifest()
        # version 0 is the empty table BEFORE any commit — no
        # _manifest.v0.json is ever written, so _materialize
        # synthesizes it.  Without this, the first
        # commit_delta(cdc=True) on an empty table crashed probing
        # read_resolved(version=0) (ADVICE r13), and every
        # since_version=0 caller needed its own special case.
        return self._materialize(version)

    # -- commit timestamps / TIMESTAMP AS OF ------------------------------------

    @staticmethod
    def _ts_epoch(ts) -> float:
        """Normalize a user timestamp to epoch seconds: a number
        passes through; a ``datetime`` or ISO-8601 string (naive =
        local time, the SQL session-timezone convention) converts."""
        import datetime as _dt

        if isinstance(ts, (int, float)) and not isinstance(ts, bool):
            return float(ts)
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            return ts.timestamp()
        raise ValueError(
            f"timestamp must be epoch seconds, datetime, or ISO-8601 "
            f"string, got {type(ts).__name__}"
        )

    def version_at_timestamp(self, ts) -> int:
        """``TIMESTAMP AS OF`` resolution: the LATEST retained version
        whose commit timestamp is <= ``ts`` (the Delta/Iceberg rule —
        'what did the table look like at ts').  Every commit is
        stamped monotonically at publish (see :meth:`_publish`), so
        the answer is unique; ties resolve to the highest version.
        Raises when ``ts`` predates the earliest retained commit
        (vacuum bounds time travel, exactly as for versions).  Cost:
        one directory listing + O(retained versions) manifest reads —
        metadata only, same class as vacuum.  Manifests written before
        timestamping stamp as epoch 0 and resolve under any ts."""
        ts = self._ts_epoch(ts)
        best = -1
        earliest = None
        for f in os.listdir(self.root):
            if not (f.startswith("_manifest.v") and f.endswith(".json")):
                continue
            try:
                v = int(f[len("_manifest.v"):-len(".json")])
            except ValueError:
                continue
            try:
                ct = float(self._load_record(v).get("committed_at", 0.0))
            except ValueError:
                continue  # removed by a racing vacuum mid-listing
            if earliest is None or ct < earliest:
                earliest = ct
            if ct <= ts and v > best:
                best = v
        if best < 0:
            raise ValueError(
                f"timestamp {ts} predates the earliest retained commit"
                + (f" ({earliest})" if earliest is not None else
                   " (no versions committed)")
            )
        return best

    def _resolve_version(
        self, version: Optional[int], timestamp
    ) -> Optional[int]:
        """One-of (version, timestamp) → version; both None = tip."""
        if timestamp is None:
            return version
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        return self.version_at_timestamp(timestamp)

    def commit_overwrite(
        self,
        df: DataFrame,
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        bloom_cols: Optional[Sequence[str]] = None,
        ndv_cols: Optional[Sequence[str]] = None,
        properties: Optional[dict] = None,
    ) -> int:
        """Replace the table contents; returns the new version (or the
        current one when batch_id was already applied).

        ``bloom_cols`` is persisted in the manifest as a table property
        (like a lakehouse bloom-index table property), so later
        ``commit_merge``/``compact`` rebuilds keep the index alive
        without re-stating the column list.  ``None`` (the default)
        INHERITS the recorded property; any explicit sequence SETS it —
        including an empty one, which CLEARS the property so the table
        stops paying the per-file index rebuild on every commit.

        ``ndv_cols`` is the same contract for incremental NDV
        tracking: tracked columns get a mergeable HLL sketch updated
        at EVERY content commit with one O(batch) pass (see
        :meth:`_update_ndv`), and the current estimate is read back as
        pure metadata (:meth:`ndv_estimate` /
        :meth:`suggest_bloom_bits`).  The overwrite recomputes the
        sketch from the new content — replaced rows must not linger.

        ``properties``: an arbitrary JSON-safe dict persisted in the
        manifest under ``"properties"``, ATOMICALLY with this commit —
        the hook a consumer uses to bind its own state to a table
        version (e.g. the durable IVM maintainer's feed cursor: rollup
        content and cursor land in one atomic publish, so a crash can
        never separate them).  Scoped to overwrite-maintained tables:
        other commit kinds do not carry it forward.

        Concurrency: the commit rebases over pure-metadata commits
        (ledger retention, ANALYZE) and aborts with
        :class:`CommitConflict` on any content commit or any schema,
        column-mapping, constraint or DEFAULT change underneath it —
        the replacement was validated and laid out against the
        snapshot it read."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]  # replay detected: no-op
        # declared invariants gate the replacement content too (an
        # overwrite that would break CHECK/NOT NULL is rejected whole)
        self._require_no_identity_values(m, df.columns, "commit_overwrite")
        df = self._apply_column_defaults(m, df, "commit_overwrite")
        self._validate_constraints(m, df, "commit_overwrite")
        bloom = m.get("bloom_cols", []) if bloom_cols is None else list(bloom_cols)
        ndv_track = (
            m.get("ndv_cols", []) if ndv_cols is None else list(ndv_cols)
        )
        # Schema tracking RESETS to the batch (replaced content, not
        # an evolution) — but column-MAPPING state is a table property
        # and survives: same-named columns keep their id + physical
        # name, new ones mint fresh ids (the Delta overwriteSchema
        # rule), so old files stay time-travel-readable under their
        # own manifests and the mapping never forks.
        schema, max_id = self._merge_schema(None, df), None
        if m.get("identity_cols"):
            # identity survives an overwrite (table property, Delta
            # rule): the columns re-attach to the reset schema and the
            # replacement rows mint fresh values from the carried hwm
            schema = {
                **schema,
                "fields": list(schema["fields"])
                + [{
                    "name": c,
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                } for c in m["identity_cols"]],
            }
        if self._mapping_enabled(m):
            prev_md = {
                f["name"]: f.get("metadata")
                for f in m.get("schema", {"fields": []})["fields"]
            }
            schema = {
                **schema,
                "fields": [
                    {**f, "metadata": prev_md[f["name"]]}
                    if prev_md.get(f["name"]) else f
                    for f in schema["fields"]
                ],
            }
            schema, max_id = self._assign_column_ids(m, schema)
        wdf, wstats, wbloom = self._for_write(
            self._carry_mapping(m), schema, df, stats_cols, bloom
        )
        # NO colstats/ndv carry: replaced content invalidates the
        # ANALYZE profile and the absorbed sketch marks outright (the
        # sketch restarts from the new content), and the key columns
        # of the deltas it clears
        reset = {"key_columns": None, "bloom_cols": bloom}
        if ndv_track:
            reset["ndv_cols"] = ndv_track
        if properties is not None:
            reset["properties"] = dict(properties)
        return self._commit_rows(
            m, "commit_overwrite", batch_id,
            written=self._write_fileset(wdf, wstats, wbloom), novel=df,
            carried=[], schema=(schema, max_id), reset=reset,
        )

    def _require_base_columns(self, m: dict, df: DataFrame, what: str) -> None:
        """New base files beside an UNTRACKED table's: nothing could
        null-fill a column mismatch at read, so the batch must match
        the base's columns exactly — one parquet footer peek
        (metadata, no data read)."""
        import pyarrow.parquet as pq

        base_cols = set(
            pq.ParquetFile(self._path(m["files"][0])).schema_arrow.names
        )
        if set(df.columns) != base_cols:
            raise ValueError(
                f"{what}: batch columns "
                f"{sorted(set(df.columns) ^ base_cols)} differ from the "
                "untracked table's — record a schema first "
                "(commit_overwrite/compact) so existing files null-fill "
                "at read"
            )

    def commit_append(
        self,
        df: DataFrame,
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
    ) -> int:
        """Plain INSERT-style append (the Delta ``mode='append'`` /
        reference full-load shape, r18 directive #2): the batch lands
        as NEW base files added to the end of the file list — no
        existing file is read or rewritten, no keys are involved.
        This is the single most common ingest op of a fact table: one
        fileset write plus one O(1) manifest publish per batch,
        whatever the table size.

        Blind-append concurrency (the WriteSerializable story): OCC
        rebases over other appends, metadata-only commits,
        content-preserving reorgs and predicate DML — two racing
        appenders both land, in some order; a concurrent delta aborts
        it (appended base rows would rank below the delta's), and so
        does a concurrent constraint, column DEFAULT or
        generated-column change (the batch was never proven against
        the new invariant, nor filled against the new column).  The
        commit classifies as kind ``'append'`` (structurally: the
        parent's file list survives as a prefix), so :meth:`changes`
        and the streaming source read straight THROUGH it — the appended files ARE the change set,
        emitted as untyped ``'upsert'`` events like any blind append.

        Schema: additive evolution exactly like :meth:`commit_delta`
        (new columns widen a tracked schema; carried files null-fill
        at read); the first append on an EMPTY untracked table begins
        schema tracking; appending to a non-empty untracked table
        requires an exact column match (one footer peek — a
        heterogeneous untracked base would be unreadable).  Appended
        rows face the CHECK/NOT NULL gate and DEFAULT/generated-column
        fill; the table's recorded bloom property is indexed on the
        new files.  Row tracking: fresh files take their
        ``base_row_id`` range at the publish choke point — appends
        compose with tracking for free."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if m.get("deltas") and m.get("key_columns"):
            # Resolution ranks ALL base files at 0, below every delta
            # fileset: an appended row whose key has an older
            # outstanding delta upsert would be shadowed by that older
            # row on every resolved read, and compact() would drop it
            # permanently — a newer committed write silently losing to
            # an older one (ADVICE r19, medium).  On a keyed table
            # with outstanding deltas the append must ride the delta
            # tier, where last-writer-wins rank is the version order.
            raise ValueError(
                "commit_append: keyed table has outstanding "
                "merge-on-read deltas — an appended base row ranks "
                "BELOW every outstanding delta for its key; use "
                "commit_delta (rank = commit order) or compact() first"
            )
        self._require_no_identity_values(m, df.columns, "commit_append")
        df = self._apply_column_defaults(m, df, "commit_append")
        self._validate_constraints(m, df, "commit_append")
        if m.get("row_tracking") and "__row_id__" in df.columns:
            raise ValueError(
                "commit_append: __row_id__ is the row-tracking "
                "identity — the table assigns it; drop the column "
                "from the batch"
            )
        if m.get("schema") is None and m["files"]:
            self._require_base_columns(m, df, "commit_append")
        # the fileset is written ONCE, before the OCC loop; on a mapped
        # table its physical names are fixed by the assignment as of m
        schema = self._write_schema(m, df)
        if schema[0] is None and not m["files"]:
            # first content on an empty untracked table: begin
            # tracking here (like commit_overwrite), so later appends
            # may evolve additively
            schema = (self._merge_schema(None, df), None)
        wdf, wstats, wbloom = self._for_write(
            self._carry_mapping(m), schema[0], df, stats_cols,
            m.get("bloom_cols", []),
        )
        return self._commit_rows(
            m, "commit_append", batch_id,
            written=self._write_fileset(wdf, wstats, wbloom), novel=df,
            schema=schema,
        )

    def commit_merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_columns: Sequence[str],
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        prune_col: Optional[str] = None,
    ) -> int:
        """Copy-on-write keyed upsert: read the current snapshot, merge,
        publish the merged result as a new version.  Idempotent both by
        batch_id (replay skipped outright) and by merge semantics (the
        keyed upsert is last-writer-wins).  Unlike :meth:`merge_into`
        it may ADD columns (additive schema evolution), and it commits
        a plain content ``rewrite`` — no ``dml`` stamp, no typed CDC,
        so the change feed refuses to read across it.  The commit
        rebases over pure-metadata commits and aborts on any content
        commit or schema/mapping/constraint change underneath it
        (:meth:`_commit_rows`' strict policy).

        With ``prune_col`` (a key column with recorded manifest stats),
        the merge is FILE-PRUNED — the lakehouse MERGE INTO shape: only
        files whose [min, max] on that column overlaps the update
        batch's key range are read and rewritten; every other file's
        manifest entry (name + stats) carries over verbatim, so a
        narrow update batch against a wide table rewrites a sliver of
        it.  Correctness: a non-overlapping file can contain no updated
        key, so carrying it over unchanged is exact; update keys
        matching nothing insert through the merged slice.

        Scale note: copy-on-write rewrite per commit is right for batch
        cadence; a high-frequency sink would keep per-batch DELTA files
        in the manifest and compact on read or on a schedule
        (merge-on-read), same protocol, more files per version.
        """
        from pyspark.sql import functions as F

        from pypeline_spark.sinks.keyed import upsert

        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if m.get("deltas"):
            # the copy-on-write merge reads BASE files only; merging
            # over un-compacted deltas would silently drop their rows
            raise ValueError(
                "outstanding merge-on-read deltas: compact() before "
                "switching to copy-on-write commits"
            )
        rowtrack = bool(m.get("row_tracking"))
        if rowtrack and "__row_id__" in updates.columns:
            raise ValueError(
                "commit_merge: __row_id__ is the row-tracking "
                "identity — the table assigns it; drop the column "
                "from the batch"
            )
        self._require_no_identity_values(
            m, updates.columns, "commit_merge"
        )
        # existing rows were proven at their own commits — only the
        # incoming batch needs the CHECK/NOT NULL gate
        updates = self._apply_column_defaults(m, updates, "commit_merge")
        self._validate_constraints(m, updates, "commit_merge")
        if m.get("schema") is not None:
            # validate additive evolution UP FRONT against the tracked
            # schema (a type change must raise before any data writes —
            # the union inside the merge would silently coerce it, and
            # a nothing-overlaps prune would skip any later check);
            # the same merge result becomes the new tracked schema
            tracked = [f["name"] for f in m["schema"]["fields"]]
            idset = set(m.get("identity_cols") or {})
            missing = [
                c for c in tracked
                if c not in set(updates.columns) and c not in idset
            ]
            if missing:
                raise ValueError(
                    f"updates batch lacks existing column(s) {missing}: "
                    "keyed upserts replace whole rows — include them "
                    "(nulls allowed)"
                )
            if idset:
                # identity columns are table-assigned: null-fill the
                # batch so the merge frame is schema-complete (reads
                # derive the real values from the row id)
                for c in sorted(idset):
                    updates = updates.withColumn(
                        c, F.lit(None).cast("long")
                    )
        # new columns mint ids + physical names on a mapped table
        # (existing ones keep theirs — _merge_schema preserves tracked
        # fields)
        schema = self._write_schema(m, updates)

        carried: list[str] = []
        if prune_col is not None and m["files"] and m.get("stats"):
            # The bounds job and the merge job must see the SAME rows: a
            # non-deterministic updates plan (sample(), uuid(), a
            # shuffle-order-dependent limit) re-evaluated by the merge
            # could emit keys outside the sampled [lo, hi] — a file
            # holding such a key would be carried over verbatim while
            # the update row also inserts through the merged slice:
            # silent duplicate keys.  Lazy localCheckpoint materializes
            # the updates at the bounds action and every later job reads
            # those same blocks (the MemoryCatalog.put discipline).
            updates = updates.localCheckpoint(eager=False)
            b = updates.agg(
                F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi")
            ).first()
            if b.lo is not None:
                carried = [
                    f
                    for f in m["files"]
                    if not self._overlaps(m, f, prune_col, b.lo, b.hi)
                ]
        carried_set = set(carried)
        touched = [f for f in m["files"] if f not in carried_set]

        if not m["files"]:
            current = None
        elif touched:
            # row tracking (r18 directive #4): the CoW merge reads the
            # slice WITH resolved ids and carries them through —
            # surviving rows keep identity, updated rows keep the
            # target row's id (one key-map join below), inserts write
            # null and mint fresh ids positionally at publish (the
            # coalesce(physical, base + position) read rule)
            current = (
                self._rowid_content(spark, m, touched)
                if rowtrack
                else self._read_base(spark, m, touched)
            )
        else:
            current = None  # nothing overlaps: the whole batch inserts
        if current is not None and rowtrack:
            updates = updates.join(
                current.select(*key_columns, "__row_id__"),
                on=list(key_columns),
                how="left",
            )
        if current is not None:
            # table-level schema evolution (the Delta MERGE + mergeSchema
            # shape): the batch may ADD columns — null-fill the current
            # slice so the upsert carries them — but must cover every
            # existing column (upserts replace whole rows; a silent
            # partial update was never this sink's contract; the
            # tracked-schema case was already validated up front)
            upd_cols = set(updates.columns)
            if m.get("schema") is None:
                missing = [c for c in current.columns if c not in upd_cols]
                if missing:
                    raise ValueError(
                        f"updates batch lacks existing column(s) "
                        f"{missing}: keyed upserts replace whole rows — "
                        "include them (nulls allowed)"
                    )
            added = [
                f for f in updates.schema.fields
                if f.name not in set(current.columns)
            ]
            if added and carried and m.get("schema") is None:
                raise ValueError(
                    "adding columns through a PRUNED merge needs schema "
                    "tracking so carried files null-fill at read: run "
                    "commit_overwrite/compact once (which records the "
                    "table schema) or merge without prune_col"
                )
            for f in added:
                current = current.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        elif m["files"] and m.get("schema") is None:
            # nothing overlapped the prune range on an UNTRACKED table:
            # the batch inserts as new files beside carried ones
            self._require_base_columns(m, updates, "commit_merge")
        merged = updates if current is None else upsert(current, updates, key_columns)
        # materialize BEFORE the old files could ever be vacuumed;
        # rewritten files rebuild the table's recorded bloom index
        # (carried files keep theirs through the commit's carry)
        wdf, wstats, wbloom = self._for_write(
            self._carry_mapping(m), schema[0], merged, stats_cols,
            m.get("bloom_cols", []),
        )
        written = self._write_fileset(wdf, wstats, wbloom)
        if schema[0] is None and not carried:
            # full rewrite on an untracked table: the merged frame IS
            # the whole content — begin tracking here
            schema = (self._merge_schema(None, merged), None)
        # a content rewrite with no change set: no dml stamp, no row
        # metrics; the NDV union is an upper bound (replaced rows keep
        # their marks)
        return self._commit_rows(
            m, "commit_merge", batch_id, written=written, novel=updates,
            op_metrics={}, carried=carried, schema=schema,
        )

    # -- predicate DML (DELETE FROM .. WHERE / UPDATE .. SET .. WHERE) ----------
    #
    # The reference's users run row-targeted DML as one SQL statement
    # against the target database (ref: /root/reference/pypeline/
    # Pype.py:167 — post_query is free-form SQL, typically a DELETE/
    # UPDATE cleanup).  On a manifest table that statement becomes the
    # Delta DELETE/UPDATE shape: (1) prune candidate files from pure
    # metadata — stats envelopes + bloom probes over conjuncts
    # extracted from the predicate; (2) one column-pruned scan of the
    # candidates finds the files that ACTUALLY hold matching rows;
    # (3) ONLY those files are rewritten copy-on-write — every other
    # file's manifest entry (name + stats + bloom + filemeta) carries
    # over verbatim; (4) the commit records per-row typed CDC files
    # ('delete', or 'update_preimage'/'update_postimage' — the Delta
    # CDF vocabulary) so the change feed and the streaming source read
    # THROUGH the commit instead of refusing it as a content rewrite.
    # At 100 TB this is the difference between rewriting a table and
    # rewriting the handful of files a narrow predicate touches.

    _NO_LIT = object()

    @classmethod
    def _sql_literal(cls, tok: str):
        """Parse an int / float / single-quoted string literal; the
        ``_NO_LIT`` sentinel means 'not a recognized literal' (the
        enclosing conjunct then contributes no pruning)."""
        import re as _re

        tok = tok.strip()
        if _re.fullmatch(r"-?\d+", tok):
            return int(tok)
        if _re.fullmatch(r"-?(\d*\.\d+|\d+\.?)([eE][+-]?\d+)?", tok) and (
            "." in tok or "e" in tok or "E" in tok
        ):
            return float(tok)
        m = _re.fullmatch(r"'([^']*)'", tok)
        if m:
            return m.group(1)
        return cls._NO_LIT

    @staticmethod
    def _split_top_and(s: str) -> Optional[list[str]]:
        """Split a predicate on TOP-LEVEL ``AND`` (outside quotes and
        parentheses).  Returns ``None`` when a top-level ``OR`` is
        present — a disjunction defeats per-conjunct envelopes, so the
        caller skips pruning entirely (correctness never depends on
        this parser: unparsed text only means 'cannot prune')."""
        parts: list[str] = []
        depth = 0
        in_str = False
        start = 0
        i = 0
        n = len(s)

        def _is_word(j: int, k: int) -> bool:
            before = s[j - 1] if j > 0 else " "
            after = s[k] if k < n else " "
            return not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            )

        while i < n:
            c = s[i]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and s[i:i + 3].upper() == "AND" and _is_word(i, i + 3):
                parts.append(s[start:i])
                start = i + 3
                i += 3
                continue
            elif depth == 0 and s[i:i + 2].upper() == "OR" and _is_word(i, i + 2):
                return None
            i += 1
        parts.append(s[start:])
        return parts

    @staticmethod
    def _strip_parens(s: str) -> str:
        s = s.strip()
        while s.startswith("(") and s.endswith(")"):
            depth = 0
            whole = True
            for i, ch in enumerate(s):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and i < len(s) - 1:
                        whole = False
                        break
            if not whole or depth != 0:
                break
            s = s[1:-1].strip()
        return s

    @classmethod
    def _prune_conjuncts(cls, predicate: str) -> list[tuple]:
        """Conservative envelope extraction from a SQL predicate for
        metadata file pruning: recognized top-level conjuncts of the
        forms ``col op literal`` / ``literal op col`` (op in =, ==, <,
        <=, >, >=) and ``col IN (literals)`` become prune facts;
        everything else is ignored.  SOUND by construction: each
        recognized conjunct is a NECESSARY condition of the whole AND,
        so a file failing its envelope can hold no matching row no
        matter what the unrecognized parts say.  A top-level OR yields
        no facts at all.  Returns ``("range", col, lo, hi)`` /
        ``("eq", col, value)`` / ``("in", col, values)`` tuples."""
        import re as _re

        ident = r"[A-Za-z_][A-Za-z0-9_]*"
        flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
        parts = cls._split_top_and(predicate)
        if parts is None:
            return []
        facts: list[tuple] = []
        for raw in parts:
            c = cls._strip_parens(raw)
            m = _re.fullmatch(
                rf"({ident})\s*(==|=|<=|>=|<|>)\s*(.+)", c, _re.S
            )
            col = op = lit = None
            if m and (v := cls._sql_literal(m.group(3))) is not cls._NO_LIT:
                col, op, lit = m.group(1), m.group(2), v
            else:
                m = _re.fullmatch(
                    rf"(.+?)\s*(==|=|<=|>=|<|>)\s*({ident})", c, _re.S
                )
                if m and (
                    v := cls._sql_literal(m.group(1))
                ) is not cls._NO_LIT:
                    op = m.group(2)
                    col, lit = m.group(3), v
                    op = {"=": "=", "==": "=="}.get(op) or flip[op]
            if col is not None:
                if op in ("=", "=="):
                    facts.append(("eq", col, lit))
                elif op in ("<", "<="):
                    facts.append(("range", col, None, lit))
                else:  # > / >=
                    facts.append(("range", col, lit, None))
                continue
            m = _re.fullmatch(
                rf"({ident})\s+[Ii][Nn]\s*\((.*)\)", c, _re.S
            )
            if m:
                vals = [cls._sql_literal(t) for t in m.group(2).split(",")]
                if vals and all(v is not cls._NO_LIT for v in vals):
                    facts.append(("in", m.group(1), vals))
        return facts

    def _cdc_op_metrics(self, spark: SparkSession, cdc_files) -> dict:
        """Typed row counts of a written CDC fileset — the per-commit
        operation metrics DESCRIBE HISTORY exposes (r16 directive #7).
        One metadata-sized job over the already-written (O(changed
        rows)) CDC files; update rows are counted once (post-image)."""
        from pyspark.sql import functions as F

        if not cdc_files:
            return {}
        counts = self._written_value_counts(spark, cdc_files, self._CT)
        return {
            "rows_inserted": counts.get("insert", 0),
            "rows_updated": counts.get("update_postimage", 0),
            "rows_deleted": counts.get("delete", 0),
        }

    def _dml_candidates(self, m: dict, predicate: str) -> list[str]:
        """Files that MAY hold rows matching ``predicate``, from pure
        manifest metadata (stats envelopes; bloom probes for equality
        facts).  Unknown stats keep a file — conservative, like every
        pruning path here."""
        cands = list(m["files"])
        for fact in self._prune_conjuncts(predicate):
            if fact[0] == "range":
                _, col, lo, hi = fact
                cands = [
                    f for f in cands if self._overlaps(m, f, col, lo, hi)
                ]
            elif fact[0] == "eq":
                _, col, v = fact
                cands = [
                    f
                    for f in cands
                    if self._overlaps(m, f, col, v, v)
                    and self._bloom_may_contain(m, f, col, v)
                ]
            else:  # in
                _, col, vals = fact
                cands = [
                    f
                    for f in cands
                    if any(
                        self._overlaps(m, f, col, v, v)
                        and self._bloom_may_contain(m, f, col, v)
                        for v in vals
                    )
                ]
        return cands

    # -- the row-level writers' shared tail -----------------------------------
    #
    # delete_where / update_where / merge_into, each copy-on-write or
    # deletion-vector, differ only in how they pick the target slice and
    # which rows they emit.  The rest is one path: assignments compile
    # (and reject) before any fileset is written, every fileset goes
    # through _write_rows, and _commit_rows holds the one commit record
    # and the conflict rules — shared with commit_overwrite,
    # commit_append, commit_merge and commit_delta.

    def _compile_assignments(
        self, m: dict, df: DataFrame, assignments: dict, what: str
    ):
        """The UPDATE assignment compiler of every row-level writer.
        Rejects, against ``df``'s columns, ``__row_id__`` (the
        row-tracking identity), unknown columns, identity columns
        (GENERATED ALWAYS) and direct assignment of generated columns,
        then returns ``post(rows)``: ``rows`` with every assignment
        evaluated against the OLD row (simultaneous assignment, the
        SQL rule) and cast to the column's tracked type, and every
        generated column that depends on an assigned one recomputed
        from the POST values (the Delta generated-column update rule).
        Writers call it before they write anything, so a rejected
        statement leaves no file behind."""
        from pyspark.sql import functions as F

        if "__row_id__" in assignments:
            raise ValueError(
                f"{what}: __row_id__ is the row-tracking identity — "
                "it cannot be assigned"
            )
        typ = {f.name: f.dataType for f in df.schema.fields}
        bad = [c for c in assignments if c not in typ]
        if bad:
            raise ValueError(f"{what}: no such column(s) {bad}")
        self._require_no_identity_values(m, assignments, what)
        gens = self._generated_recompute(m, assignments)
        ass = {
            c: (F.expr(e) if isinstance(e, str) else F.lit(e)).cast(typ[c])
            for c, e in assignments.items()
        }

        def post(rows: DataFrame) -> DataFrame:
            out = rows.select(
                *[ass.get(c, F.col(c)).alias(c) for c in rows.columns]
            )
            for g, ge in gens:
                out = out.withColumn(g, F.expr(ge).cast(typ[g]))
            return out

        return post

    def _dml_images(self, m: dict, pre: DataFrame, post_of, what: str):
        """``(post, cdc)`` of a predicate UPDATE (``post_of`` from
        :meth:`_compile_assignments`) or DELETE (``post_of=None``, no
        post images) over the matched rows ``pre``: the typed CDC is
        pre- and post-image pairs or full-row deletes, and the post
        images face the CHECK/NOT NULL gate."""
        from pyspark.sql import functions as F

        if post_of is None:
            return None, pre.withColumn(self._CT, F.lit("delete"))
        post = post_of(pre)
        self._validate_constraints(m, post, what)
        return post, pre.withColumn(
            self._CT, F.lit("update_preimage")
        ).unionByName(post.withColumn(self._CT, F.lit("update_postimage")))

    @staticmethod
    def _dml_metrics(post, cdc_meta: dict) -> dict:
        """A predicate DML's operation metrics from its CDC footers
        (free: an UPDATE's CDC is pre+post image pairs, a DELETE's one
        row per deleted row)."""
        n = sum(v.get("rows") or 0 for v in cdc_meta.values())
        return {"rows_updated": n // 2} if post is not None else {
            "rows_deleted": n
        }

    def _key_range(
        self, m: dict, src: DataFrame, keys: Sequence[str],
        prune_col: Optional[str],
    ) -> Optional[tuple]:
        """``(prune_col, lo, hi)``: the source key range a keyed MERGE
        prunes target files by, from one min/max job over ``src`` —
        or None when ``prune_col`` is unset, when no file records
        stats usable for it (:meth:`_has_prune_stats`: the job would
        buy nothing), or when the source holds no non-null key.
        ``prune_col`` must be a key column: pruning on any other
        column could split a key's rows across kept and pruned
        files."""
        from pyspark.sql import functions as F

        if prune_col is None:
            return None
        if prune_col not in keys:
            raise ValueError(
                f"prune_col {prune_col!r} must be a key column "
                f"{keys} — pruning on a non-key column could "
                "split a key's rows across kept and pruned files"
            )
        if not self._has_prune_stats(m, prune_col):
            return None
        bounds = self._collect_index_metadata(
            src.agg(F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi"))
        )
        lo = bounds.column("lo").to_pylist()[0]
        hi = bounds.column("hi").to_pylist()[0]
        return None if lo is None else (prune_col, lo, hi)

    def _write_rows(
        self,
        m: dict,
        df: DataFrame,
        stats_cols: Sequence[str] = (),
        bloom_cols: Sequence[str] = (),
        keep_one: bool = False,
    ) -> tuple[list[str], dict, dict]:
        """Write ``df`` as a new fileset under ``m``'s tracked schema and
        column mapping (:meth:`_for_write` + :meth:`_write_fileset`)
        and return ``(files, stats, filemeta)`` without its zero-row
        part-files: Spark always writes partition 0, so a sparse split
        stages empty files the manifest must not list (they stay
        unreferenced ``gc_orphans`` debris).  ``keep_one``: when every
        part-file is empty, keep the first — the fileset is the only
        one its list will hold (a CDC fileset, or the rewrite of a
        table a copy-on-write DELETE emptied, whose schema an
        untracked table still reads from that file)."""
        wdf, wstats, wbloom = self._for_write(
            self._carry_mapping(m), m.get("schema"), df, stats_cols,
            bloom_cols,
        )
        files, stats, meta = self._write_fileset(wdf, wstats, wbloom)
        kept = [f for f in files if meta[f].get("rows") != 0]
        if keep_one and not kept:
            kept = files[:1]
        return (
            kept,
            {f: stats[f] for f in kept if f in stats},
            {f: meta[f] for f in kept},
        )

    def _write_dv(self, spark: SparkSession, tagged: DataFrame) -> tuple:
        """Write the (file, position) pairs of the provenance-tagged
        rows ``tagged`` as a new deletion-vector fileset; returns
        ``(files, filemeta, counts)`` with the per-file suppression
        counts read back from the WRITTEN fileset — exactly what the
        manifest will reference."""
        from pyspark.sql import functions as F

        files, _stats, meta = self._write_fileset(
            tagged.select(
                F.col("__dvf__").alias("__file__"),
                F.col("__dvp__").alias("__pos__"),
            )
        )
        counts = self._written_value_counts(
            spark, files, "__file__", read_schema=self._dv_read_schema()
        )
        return files, meta, counts

    def _write_schema(self, m: dict, df: DataFrame) -> tuple:
        """``(schema, max_column_id)`` a fileset of ``df`` is written
        under against snapshot ``m``: the tracked schema widened
        additively by the batch, with ids and physical names minted
        for new columns on a mapped table (``max_column_id`` is None
        on an unmapped one); ``(None, None)`` on an untracked table."""
        if m.get("schema") is None:
            return None, None
        schema = self._merge_schema(m["schema"], df)
        if self._mapping_enabled(m):
            return self._assign_column_ids(m, schema)
        return schema, None

    def _commit_rows(
        self,
        m: dict,
        what: str,
        batch_id: Optional[str],
        *,
        written: tuple,
        novel: Optional[DataFrame],
        op_metrics: Optional[dict] = None,
        cdc: Optional[tuple] = None,
        keys: Optional[Sequence[str]] = None,
        carried: Optional[Sequence[str]] = None,
        dv: Optional[tuple] = None,
        delta: bool = False,
        schema: Optional[tuple] = None,
        reset: Optional[dict] = None,
    ) -> int:
        """The one commit of every content writer, built against
        snapshot ``m`` and published through :meth:`_commit_retrying`.
        ``written`` is the new fileset ``(files, stats, filemeta)``;
        ``novel`` the frame whose values the NDV sketch absorbs (None:
        no new values); ``op_metrics`` the row metrics (default: the
        written fileset's row count); ``keys`` are recorded when the
        table has no key columns yet; ``schema`` is the ``(schema,
        max_column_id)`` the fileset was written under (default: m's
        tracked schema stands).

        Each writer's commit shape is data:

        - ``carried`` = the base files kept verbatim (copy-on-write
          MERGE/UPDATE/DELETE, ``commit_merge``; ``[]`` for an
          overwrite): the new fileset replaces every other base file,
          deltas clear (these writers refuse a delta'd table) and only
          carried files keep their dv — the rewrite applied the rest
          physically;
        - ``carried=None``: the base and its deltas carry through
          verbatim, their stats, blooms and filemeta sound upper
          bounds; the new fileset appends to the base (deletion-vector
          writers, ``commit_append``) or, with ``delta``, as one delta
          fileset (``commit_delta``); ``dv`` —
          :meth:`_write_dv`'s ``(files, filemeta, counts)`` — adds
          suppression counts;
        - ``cdc`` (a :meth:`_write_rows` result) stamps the commit
          ``dml`` with its typed change set — the row-level writers;
        - ``reset`` (an overwrite) records its table-level entries
          instead of the carried ANALYZE profile, NDV state and key
          columns: replaced content invalidates all three.

        Conflicts: a ledgered ``batch_id`` is a concurrent duplicate
        (no commit).  A blind append (``carried=None`` and no ``cdc``:
        append, delta) takes the additive policy; it rebases over
        other appends, deltas, predicate DML, metadata and reorgs as
        long as the tip's schema still fits its fileset.  Every other
        writer takes the strict policy, rebasing over pure metadata
        only, and aborts on any moved file list or dv and on any
        schema or column-mapping change — its filesets were written
        under m's schema and physical names.  Both abort on a changed
        constraint, column DEFAULT or generated column: the batch was
        validated and filled against m's only.  A base-file append
        also aborts on a concurrent delta — its rows would rank below
        the delta's for their keys."""
        files, stats, filemeta = written
        cdc_files, _cdc_stats, cdc_meta = cdc or ([], {}, {})
        dv_files, dv_meta, counts = dv or ([], {}, {})
        blind = carried is None and cdc is None
        write_schema, write_max = schema or (m.get("schema"), None)
        if op_metrics is None:
            op_metrics = {
                "num_output_rows": sum(
                    v.get("rows") or 0 for v in filemeta.values()
                )
            }

        def fills(x: dict) -> tuple:
            return (
                self._constraints(x),
                x.get("column_defaults"),
                x.get("generated_columns"),
            )

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            if (
                not delta
                and (mm.get("deltas") or []) != (m.get("deltas") or [])
            ) or (not blind and (
                mm["files"] != m["files"]
                or (mm.get("dv") or None) != (m.get("dv") or None)
            )):
                raise CommitConflict(
                    f"{what}: table content changed under the commit "
                    "(a concurrent rewrite, delta or deletion vector) "
                    "— re-read the table and retry"
                )
            if delta and mm.get("key_columns") not in (None, list(keys)):
                raise ValueError(
                    f"key_columns {list(keys)} != recorded "
                    f"{mm['key_columns']}"
                )
            if fills(mm) != fills(m) or (not blind and (
                mm.get("schema") != m.get("schema")
                or self._carry_mapping(mm) != self._carry_mapping(m)
            )):
                raise CommitConflict(
                    f"{what} lost to a concurrent schema/mapping/"
                    "constraint/default change — re-read the table and "
                    "retry (the batch must be re-validated)"
                )
            mapping = self._carry_mapping(mm)
            if (
                mm.get("schema") == m.get("schema")
                and mm.get("max_column_id") == m.get("max_column_id")
            ):
                new_schema = write_schema
                if write_max is not None:
                    mapping["max_column_id"] = write_max
            elif self._mapping_enabled(mm):
                # a blind append rebasing over a schema change: its
                # files carry m's physical names, so it rebases only
                # when the batch widens nothing and every batch column
                # keeps its (id, physical) assignment — a column
                # dropped and re-added keeps its logical (name, type)
                # but re-keys both, and _to_logical would project the
                # retired bytes away (nulled data winning resolution)
                bcols = set(novel.columns) - {self._CT}
                if self._merge_schema(
                    mm["schema"], novel
                ) != mm["schema"] or self._cm_assignment(
                    mm, bcols
                ) != self._cm_assignment(m, bcols):
                    raise CommitConflict(
                        f"{what} on a column-mapped table lost to a "
                        "concurrent schema change (widened schema or "
                        "re-keyed column assignment) — re-read the "
                        "table and retry"
                    )
                new_schema = mm["schema"]
            elif mm.get("schema") is not None:
                # unmapped: the batch widens the tip's schema additively
                new_schema = self._merge_schema(mm["schema"], novel)
            else:
                new_schema = None
            old_stats = mm.get("stats", {})
            old_meta = mm.get("filemeta", {})
            if carried is not None:
                base, deltas = list(carried), []
                old_stats = {f: old_stats[f] for f in carried if f in old_stats}
                old_meta = {f: old_meta[f] for f in carried if f in old_meta}
                dv_state = self._carry_dv(mm, carried)
            else:
                base, deltas = mm["files"], mm.get("deltas", [])
                dv_state = self._carry_dv(mm)
                if counts:
                    old_dv = mm.get("dv") or {"files": [], "rows": {}}
                    rows = dict(old_dv["rows"])
                    for f, n in counts.items():
                        rows[f] = rows.get(f, 0) + n
                    dv_state = {
                        "dv": {
                            "files": old_dv["files"] + dv_files,
                            "rows": rows,
                            "total": old_dv.get(
                                "total", sum(old_dv["rows"].values())
                            ) + sum(counts.values()),
                        }
                    }
            if delta:
                deltas = deltas + [files]
            else:
                base = base + files
            # ANALYZE profile + NDV sketch ride (provenance-kept; the
            # HLL only ever absorbs, an upper bound) unless reset
            meta = self._carry_meta(mm) if reset is None else reset
            new = {
                "version": mm["version"] + 1,
                "files": base,
                "deltas": deltas,
                "key_columns": mm.get("key_columns") or keys,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "stats": {**old_stats, **stats},
                "filemeta": {
                    **old_meta, **filemeta, **dv_meta, **cdc_meta,
                },
                "bloom_cols": mm.get("bloom_cols", []),
                "op_metrics": op_metrics,
                **meta,
                **mapping,
                **dv_state,
            }
            if cdc is not None:
                # row-level changes ARE derivable across this commit:
                # the CDC fileset is the exact change set
                new["dml"] = True
                new["cdc_files"] = cdc_files
            if new_schema is not None:
                new["schema"] = new_schema
            if meta.get("ndv_cols") and novel is not None:
                # one O(batch) pass, folded against the rebased tip's
                # sketch so no concurrent commit's marks are lost
                new["ndv"] = self._update_ndv(
                    novel, meta["ndv_cols"], meta.get("ndv", {})
                )
            return new

        # a blind append read nothing of the table, so it serializes
        # after any commit but a rewrite; every other writer read a
        # snapshot, so only pure metadata may land under it
        rebase_over = frozenset(
            {"delta", "metadata", "reorg", "dml", "append"} if blind
            else {"metadata"}
        )
        return self._commit_retrying(m, build, rebase_over, what)

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        mode: str = "cow",
    ) -> int:
        """``DELETE FROM table WHERE predicate`` — rows where the
        predicate is TRUE are removed (FALSE and NULL rows stay, the
        SQL rule).  The commit stores the deleted rows as full-row
        typed CDC (``_change_type='delete'``), so :meth:`changes` and
        the streaming source read straight THROUGH it.  ``mode='cow'``
        requires a compacted table (no outstanding merge-on-read
        deltas); ``mode='dv'`` works over them by delegating to the
        keyed dv MERGE (r18 — see below).  A predicate matching
        nothing is a no-op (no commit).  Every row-level writer —
        this one, :meth:`update_where` and :meth:`merge_into`, in
        either mode — ends in the same commit (:meth:`_commit_rows`):
        OCC rebases over pure-metadata commits only while
        schema/mapping/constraints are unchanged, and any content
        commit aborts it.

        ``mode='cow'`` (default): copy-on-write — only files actually
        holding matching rows are rewritten (two-phase: metadata
        prune, then one column-pruned scan — the Delta DELETE shape);
        untouched files carry over verbatim.  Write cost is
        O(touched file bytes): right when deletes cluster into few
        files, or as the compaction that follows dv deletes.

        ``mode='dv'``: DELETION VECTORS (the Delta 3.x merge-on-read
        DELETE) — no base file is rewritten; the commit records the
        matched (file, position) pairs as a small dv fileset that
        every reader anti-joins away (:meth:`_read_base`).  On a table
        with OUTSTANDING merge-on-read deltas the statement delegates
        to the keyed dv MERGE (r18): the matched set is the RESOLVED
        rows satisfying the predicate and every stored image of their
        keys is suppressed — a streaming table never needs a compact
        to run a predicate DELETE.  Write
        cost is O(matched rows) regardless of how the matches
        scatter: deleting 1k rows spread over 10k files of a 100 TB
        table writes kilobytes instead of rewriting 10k files.  Reads
        of dv'd files pay a (broadcast, while the dv is small)
        anti-join until :meth:`compact` or :meth:`optimize`
        materializes the suppression — exactly Delta's
        read-amplification / write-amplification trade.  Per-file
        stats, blooms and row counts become sound UPPER bounds
        (deletion only removes rows), so pruning keeps working;
        ``stats_cols`` is rejected (nothing is rewritten, so the
        argument could only ever be silently ignored — ADVICE r15)."""
        if mode == "cow":
            return self._dml_where(
                spark, predicate, None, batch_id, stats_cols
            )
        if mode != "dv":
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        if stats_cols:
            raise ValueError(
                "delete_where(mode='dv') rewrites no files — "
                f"stats_cols {list(stats_cols)} would have no effect; "
                "drop the argument (or use mode='cow' to rewrite with "
                "fresh stats)"
            )
        return self._dml_where_dv(spark, predicate, None, batch_id, ())

    def update_where(
        self,
        spark: SparkSession,
        predicate: str,
        assignments: dict,
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        mode: str = "cow",
    ) -> int:
        """``UPDATE table SET col = expr, .. WHERE predicate`` —
        ``assignments`` maps column name -> SQL expression (or Python
        literal); all right-hand sides evaluate against the OLD row
        (simultaneous assignment, the SQL rule) and each result is
        cast to the column's existing type (schema-stable — widening
        goes through ``evolve_schema``).  The commit stores pre- AND
        post-image CDC rows
        (``_change_type='update_preimage'/'update_postimage'`` — the
        Delta CDF vocabulary), so feed consumers see both the group a
        row left and the one it joined.  Updated rows face the
        CHECK/NOT NULL gate like any batch.  Assignments are checked
        (unknown, ``__row_id__``, identity and generated columns are
        rejected) before any file is written, and the commit follows
        :meth:`delete_where`'s rules.

        ``mode='cow'`` (default): the same two-phase pruned
        copy-on-write as :meth:`delete_where` — touched files rewrite
        whole.  ``mode='dv'``: merge-on-read UPDATE (the Delta
        deletion-vector UPDATE shape) — the matched rows' old
        positions join the dv suppression set and ONLY the post-image
        rows land as new base files, so a scattered narrow update
        writes O(matched rows) instead of rewriting every touched
        file; untouched rows of touched files are never copied.
        ``stats_cols`` applies to the post-image fileset in dv mode
        (the table's bloom property is indexed on it either way)."""
        if not assignments:
            raise ValueError("update_where needs a non-empty assignments dict")
        if mode == "cow":
            return self._dml_where(
                spark, predicate, dict(assignments), batch_id, stats_cols
            )
        if mode != "dv":
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        return self._dml_where_dv(
            spark, predicate, dict(assignments), batch_id, stats_cols
        )

    def _dml_where(
        self,
        spark: SparkSession,
        predicate: str,
        assignments: Optional[dict],
        batch_id: Optional[str],
        stats_cols: Sequence[str],
    ) -> int:
        from pyspark.sql import functions as F

        what = "update_where" if assignments is not None else "delete_where"
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if m.get("deltas"):
            raise ValueError(
                f"{what} rewrites base files (copy-on-write): compact() "
                "outstanding merge-on-read deltas first, or use "
                "commit_delta(deletes=) tombstones on a keyed table"
            )
        if not m["files"]:
            return m["version"]
        # matched side: a bare filter already excludes NULL-predicate
        # rows (SQL filter keeps TRUE only) AND stays pushdown-eligible
        # — wrapping it in coalesce() would block the parquet
        # PushedFilters and the row-group skipping they buy.  The KEPT
        # side is where NULL must be preserved, so only it pays the
        # coalesce wrapper.
        pred = F.expr(predicate).cast("boolean")
        not_pred = ~F.coalesce(pred, F.lit(False))
        # phase 1: metadata prune, then ONE column-pruned scan of the
        # candidates for the files that truly hold matching rows (the
        # projection is just the predicate columns + the file name, so
        # Catalyst prunes the parquet read accordingly, and the
        # predicate itself reaches the scan as a pushed filter)
        candidates = self._dml_candidates(m, predicate)
        if not candidates:
            return m["version"]  # provably nothing matches
        # provenance comes from the tagged scan (a _metadata column,
        # computed at the scan — safe above the dv anti-join, where
        # input_file_name() would be undefined); the predicate filter
        # still reaches the parquet read as a pushed filter
        scan = self._read_base_tagged(spark, m, candidates)
        post_of = (
            None if assignments is None
            else self._compile_assignments(
                m, scan.drop("__dvf__", "__dvp__"), assignments, what
            )
        )
        hits = self._collect_index_metadata(
            scan.filter(pred).select("__dvf__").distinct()
        )
        touched = sorted(hits.column("__dvf__").to_pylist())
        if not touched:
            return m["version"]  # predicate matched no rows: no-op
        tset = set(touched)
        carried = [f for f in m["files"] if f not in tset]
        # phase 2: rewrite ONLY the touched files (deterministic
        # explicit-path reads — both passes see identical rows).  On a
        # row-tracked table (r18 directive #4) the rewrite reads the
        # slice WITH resolved ids and materializes them into the new
        # files — kept and updated rows preserve identity through the
        # copy-on-write rewrite, exactly like compact/OPTIMIZE.
        tdf = (
            self._rowid_content(spark, m, touched)
            if m.get("row_tracking")
            else self._read_base(spark, m, touched)
        )
        post, cdc = self._dml_images(m, tdf.filter(pred), post_of, what)
        kept = tdf.filter(not_pred)  # FALSE and NULL rows stay (SQL rule)
        written = self._write_rows(
            m,
            kept if post is None else kept.unionByName(post),
            stats_cols,
            m.get("bloom_cols", []),
            keep_one=not carried,
        )
        cdc_w = self._write_rows(m, cdc, keep_one=True)
        return self._commit_rows(
            m, what, batch_id, written=written, cdc=cdc_w,
            op_metrics=self._dml_metrics(post, cdc_w[2]), novel=post,
            carried=carried,
        )

    def _dml_where_dv_over_deltas(
        self,
        spark: SparkSession,
        m: dict,
        predicate: str,
        assignments: Optional[dict],
        batch_id: Optional[str],
        stats_cols: Sequence[str],
        what: str,
    ) -> int:
        """Predicate DML on a table with OUTSTANDING merge-on-read
        deltas (r18 headroom — previously a loud refusal): the matched
        set is the RESOLVED rows satisfying the predicate, and acting
        on them positionally would resurrect older images of the same
        key, so the statement delegates to the KEYED deletion-vector
        MERGE — which already suppresses EVERY stored image of an
        acted key (base rows, superseded delta rows, tombstones) and
        carries the outstanding deltas through untouched.  DELETE
        becomes a matched-delete merge on the matched keys; UPDATE
        computes the post-image rows (simultaneous assignment over the
        resolved OLD row, SQL rule) and merges them back with an
        unconditional matched-update.  Cost: one resolved-view filter
        + the dv merge's O(changed rows) write — still no base
        rewrite, still no forced compact."""
        from pyspark.sql import functions as F

        keys = m.get("key_columns")
        if not keys:
            raise ValueError(
                f"{what}: outstanding merge-on-read deltas and no "
                "recorded key_columns — resolution is undefined; "
                "compact() first"
            )
        if assignments is not None and set(assignments) & set(keys):
            # The delegation merges post-images back ON key_columns
            # with a matched-update clause; a post-image carrying a
            # NEW key would match nothing (update silently lost) or
            # clobber a DIFFERENT row (ADVICE r19, medium).  The CoW
            # path handles key updates; over deltas this must stay a
            # loud refusal like the __row_id__/identity guards.
            raise ValueError(
                f"{what}: assignment targets key column(s) "
                f"{sorted(set(assignments) & set(keys))} while "
                "merge-on-read deltas are outstanding — the dv merge "
                "matches ON those keys, so a key-changing update "
                "cannot be expressed; compact() first"
            )
        resolved = self.read_resolved(spark, version=m["version"])
        if resolved is None:
            return m["version"]
        matched = resolved.filter(F.expr(predicate).cast("boolean"))
        if assignments is None:
            src = matched.select(*keys)
            clauses = [("delete", None, None)]
        else:
            post = self._compile_assignments(
                m, resolved, assignments, what
            )(matched)
            # identity columns are table-assigned, never a payload; the
            # merge plan recomputes generated ones itself
            src = post.drop(*(m.get("identity_cols") or {}))
            clauses = [("update", None, "*")]
        return self._merge_into_dv(
            spark,
            src,
            list(keys),
            clauses=clauses,
            batch_id=batch_id,
            stats_cols=stats_cols,
        )

    def _dml_where_dv(
        self,
        spark: SparkSession,
        predicate: str,
        assignments: Optional[dict],
        batch_id: Optional[str],
        stats_cols: Sequence[str],
    ) -> int:
        """The merge-on-read DML behind ``delete_where(mode='dv')`` /
        ``update_where(mode='dv')``: one provenance-tagged scan of the
        stats/bloom-pruned candidate files (existing dv already
        applied — a row cannot be matched twice) finds the matched
        rows; their (file, position) pairs land as a new dv fileset,
        their pre-images as typed CDC, and — for UPDATE — ONLY the
        post-image rows land as new base files appended to the file
        list.  Write cost is O(matched rows) for both verbs; untouched
        rows of touched files are never copied."""
        from pyspark.sql import functions as F

        what = (
            "update_where[dv]" if assignments is not None
            else "delete_where[dv]"
        )
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if m.get("deltas"):
            return self._dml_where_dv_over_deltas(
                spark, m, predicate, assignments, batch_id, stats_cols,
                what,
            )
        if not m["files"]:
            return m["version"]
        self._guard_dv_reserved(m, (), what)
        candidates = self._dml_candidates(m, predicate)
        if not candidates:
            return m["version"]  # provably nothing matches
        # the tagged read resolves row ids itself when tracking is on
        # (the resolved id rides the pre/post images and so the CDC:
        # a dv UPDATE preserves identity by construction)
        matched = self._read_base_tagged(
            spark, m, candidates, rowid=bool(m.get("row_tracking"))
        ).filter(F.expr(predicate).cast("boolean"))
        pre = matched.drop("__dvf__", "__dvp__")
        post_of = (
            None if assignments is None
            else self._compile_assignments(m, pre, assignments, what)
        )
        post, cdc = self._dml_images(m, pre, post_of, what)
        dv = self._write_dv(spark, matched)
        if not dv[2]:
            # predicate matched no rows: no commit (the empty written
            # fileset is gc_orphans debris)
            return m["version"]
        written = (
            ([], {}, {}) if post is None else self._write_rows(
                m, post, stats_cols, m.get("bloom_cols", [])
            )
        )
        cdc_w = self._write_rows(m, cdc, keep_one=True)
        return self._commit_rows(
            m, what, batch_id, written=written, cdc=cdc_w,
            op_metrics=self._dml_metrics(post, cdc_w[2]), novel=post,
            dv=dv,
        )

    _MERGE_KINDS = (
        "update", "delete", "insert", "update_by_source", "delete_by_source",
    )

    @classmethod
    def _merge_parse_clauses(cls, clauses, source):
        """Validate the ordered MERGE clause list (shared by the
        copy-on-write and deletion-vector modes).  Returns
        ``(parsed, matched_idx, insert_idx, by_source_idx)``."""
        matched_idx: list[int] = []
        insert_idx: list[int] = []
        by_source_idx: list[int] = []
        parsed: list[tuple] = []
        for i, clause in enumerate(clauses):
            if len(clause) != 3:
                raise ValueError(
                    f"clause {i}: expected (kind, condition, payload)"
                )
            kind, cond, payload = clause
            if kind not in cls._MERGE_KINDS:
                raise ValueError(
                    f"clause {i}: unknown kind {kind!r} "
                    f"(one of {cls._MERGE_KINDS})"
                )
            if kind in ("delete", "delete_by_source"):
                if payload is not None:
                    raise ValueError(f"clause {i}: {kind} takes no payload")
            elif kind == "update_by_source":
                if not isinstance(payload, dict) or not payload:
                    raise ValueError(
                        f"clause {i}: update_by_source needs an "
                        "assignments dict (no source row to copy from)"
                    )
            elif payload != "*" and (
                not isinstance(payload, dict) or not payload
            ):
                raise ValueError(
                    f"clause {i}: {kind} needs an assignments dict or '*'"
                )
            if kind in ("update", "delete"):
                matched_idx.append(i)
            elif kind == "insert":
                insert_idx.append(i)
            else:
                by_source_idx.append(i)
            parsed.append((kind, cond, payload))
        if not parsed:
            raise ValueError("merge_into needs at least one clause")
        bad_names = {"__t__", "__s__", "__act__"} & set(source.columns)
        if bad_names:
            raise ValueError(
                f"source carries reserved column(s) {sorted(bad_names)}"
            )
        return parsed, matched_idx, insert_idx, by_source_idx

    def _merge_prepare(self, m, source, key_columns, clauses, what):
        """The source checks both MERGE modes run before any read: the
        merge keys resolve (argument, else the recorded key columns),
        the source carries no ``__row_id__`` or identity column (the
        table assigns both) and the clause list parses.  Returns
        ``(keys, parsed, matched_idx, insert_idx, by_source_idx)``."""
        keys = list(key_columns or m.get("key_columns") or [])
        if not keys:
            raise ValueError(
                "merge_into needs key_columns (argument or recorded "
                "on the table)"
            )
        if m.get("row_tracking") and "__row_id__" in source.columns:
            raise ValueError(
                f"{what}: __row_id__ is the row-tracking identity — "
                "the table assigns it; drop the column from the source"
            )
        self._require_no_identity_values(m, source.columns, what)
        return (keys, *self._merge_parse_clauses(clauses, source))

    @staticmethod
    def _merge_check_payloads(parsed, typ, tcols, src_cols, generated=()):
        """Assignment targets must be tracked target columns; a ``'*'``
        payload needs every target column present in the source —
        except ``__row_id__`` (identity) and generated columns (always
        derived: the merge recomputes them from the post values, and
        assigning one directly is rejected like the UPDATE rule)."""
        src_set = set(src_cols)
        gset = set(generated)
        for i, (kind, _c, payload) in enumerate(parsed):
            if isinstance(payload, dict):
                unknown = [c for c in payload if c not in typ]
                if unknown:
                    raise ValueError(
                        f"clause {i}: no such target column(s) {unknown}"
                    )
                if "__row_id__" in payload:
                    raise ValueError(
                        f"clause {i}: __row_id__ is the row-tracking "
                        "identity — it cannot be assigned"
                    )
                gbad = sorted(gset & set(payload))
                if gbad:
                    raise ValueError(
                        f"clause {i}: generated column(s) {gbad} are "
                        "always derived — assign their source columns "
                        "and they recompute"
                    )
            elif payload == "*":
                missing = [
                    c for c in tcols
                    if c not in src_set
                    and c != "__row_id__"
                    and c not in gset
                ]
                if missing:
                    raise ValueError(
                        f"clause {i}: '*' needs every target column in "
                        f"the source; missing {missing}"
                    )

    def _merge_ambiguity_guard(self, src, t_base, keys):
        """The SQL/Delta multiple-match rule: more than one SOURCE row
        matching the same target key raises (which row's assignments
        win is undefined).

        Two-phase (r19, guide §1.2): ambiguity REQUIRES a duplicated
        source key, so phase 1 probes the SOURCE alone — a unique-keyed
        source (the common case) is cleared without ever scanning the
        target, removing a full pass over the touched base files per
        merge.  The probe grows with the batch, not the table; at
        fixture scale the two shapes measure flat (job-overhead-bound),
        the saving is the target-side scan that grows with table size.
        Only when source duplicates exist does phase 2 run the original
        src x target semi-join to check whether one actually MATCHES a
        target row — the raise condition is bit-identical."""
        from pyspark.sql import functions as F

        dup = (
            src.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .first()
        )
        if dup is None:
            return
        dup = (
            src.join(t_base.select(*keys), on=keys, how="left_semi")
            .groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .first()
        )
        if dup is not None:
            raise ValueError(
                "merge_into: multiple source rows match the same "
                f"target key {tuple(dup[k] for k in keys)!r} — "
                "de-duplicate the source (the SQL MERGE ambiguity "
                "rule: which row's assignments win is undefined)"
            )

    def _merge_plan(self, m, parsed, t_base, src, keys, guard):
        """The one-join MERGE plan shared by the cow and dv modes over
        the target slice ``t_base`` each mode picked.  Payloads are
        checked against the slice's columns first, and ``guard`` (some
        matched or by-source clause can see a target row) runs the
        ambiguity guard.  One
        full-outer join of target × source drives every clause through
        a single CASE-typed ``__act__`` column; one CASE per column
        routes each action to its clause's assignment (updates default
        to the old value, inserts to NULL — or to the column's DEFAULT
        expression when one is declared; generated columns must be
        explicitly assigned in a merge, their join-context derivation
        is ambiguous), cast to the tracked type.
        Returns ``(proj, tcols, upd_codes, del_codes, ins_codes)``
        where ``proj`` is the action-tagged content projection.  It
        also carries the old target row as the struct ``__t__`` and
        the acted key (target key, else source key) as the struct
        ``__s__``, so one slice of ``proj`` answers every later read of
        the join."""
        from pyspark.sql import functions as F

        tcols = list(t_base.columns)
        typ = {f.name: f.dataType for f in t_base.schema.fields}
        defaults = m.get("column_defaults") or {}
        identity = set(m.get("identity_cols") or {})
        self._merge_check_payloads(
            parsed, typ, tcols, src.columns,
            generated=set(m.get("generated_columns") or ()) | identity,
        )
        if guard:
            self._merge_ambiguity_guard(src, t_base, keys)
        gens = {
            c: d["expr"]
            for c, d in defaults.items()
            if d.get("generated") and c in typ
        }
        # identity columns behave like generated ones in the plan:
        # never copied from the source ('*' skips them), updates keep
        # the target's value, inserts write null (the id — and with it
        # the identity value — is minted at publish)
        gset = set(gens) | identity
        t = t_base.withColumn("__t__", F.lit(True)).alias("t")
        s = src.withColumn("__s__", F.lit(True)).alias("s")
        j = t.join(
            s,
            on=[F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
            how="full_outer",
        )
        mt = F.col("t.__t__").isNotNull()
        ms = F.col("s.__s__").isNotNull()
        act = None
        for i, (kind, cond, _p) in enumerate(parsed):
            pop = (
                mt & ms
                if kind in ("update", "delete")
                else (~mt & ms if kind == "insert" else mt & ~ms)
            )
            if cond is not None:
                pop = pop & F.coalesce(
                    F.expr(cond).cast("boolean"), F.lit(False)
                )
            lit = F.lit(f"a{i}")
            act = F.when(pop, lit) if act is None else act.when(pop, lit)
        act = act.when(mt, F.lit("keep")).otherwise(F.lit("drop"))
        j = j.withColumn("__act__", act)

        def _rhs(v):
            return F.expr(v) if isinstance(v, str) else F.lit(v)

        def _content_col(c: str):
            e = None
            for i, (kind, _cond, payload) in enumerate(parsed):
                if kind in ("delete", "delete_by_source"):
                    continue
                assigns = (
                    {
                        cc: f"s.{cc}"
                        for cc in tcols
                        if cc != "__row_id__" and cc not in gset
                    }
                    if payload == "*"
                    else payload
                )
                if c in assigns:
                    val = _rhs(assigns[c])
                elif kind == "insert":
                    d = defaults.get(c)
                    val = (
                        F.expr(d["expr"])
                        if d is not None and not d.get("generated")
                        else F.lit(None)
                    )
                else:
                    val = F.col(f"t.{c}")
                cond = F.col("__act__") == f"a{i}"
                e = F.when(cond, val) if e is None else e.when(cond, val)
            e = (
                e.otherwise(F.col(f"t.{c}"))
                if e is not None
                else F.col(f"t.{c}")
            )
            return e.cast(typ[c]).alias(c)

        upd_codes = [
            f"a{i}"
            for i, (k, _c, _p) in enumerate(parsed)
            if k in ("update", "update_by_source")
        ]
        del_codes = [
            f"a{i}"
            for i, (k, _c, _p) in enumerate(parsed)
            if k in ("delete", "delete_by_source")
        ]
        ins_codes = [
            f"a{i}"
            for i, (k, _c, _p) in enumerate(parsed)
            if k == "insert"
        ]
        proj = j.select(
            F.col("__act__"),
            F.struct(*[F.col(f"t.{c}").alias(c) for c in tcols]).alias(
                "__t__"
            ),
            F.struct(
                *[
                    F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k)
                    for k in keys
                ]
            ).alias("__s__"),
            *[_content_col(c) for c in tcols],
        )
        # generated columns recompute from the POST values on every
        # updated/inserted row — kept rows keep their stored value
        # (the Delta generated-column rule; explicit assignment was
        # rejected in _merge_check_payloads)
        if gens:
            act_codes = upd_codes + ins_codes
            for g in sorted(
                gens,
                key=lambda c: ((defaults.get(c) or {}).get("added_v", 0), c),
            ):
                proj = proj.withColumn(
                    g,
                    F.when(
                        F.col("__act__").isin(act_codes),
                        F.expr(gens[g]).cast(typ[g]),
                    ).otherwise(F.col(g)),
                )
        return proj, tcols, upd_codes, del_codes, ins_codes

    def _merge_cdc(self, proj, tcols, upd_codes, del_codes, ins_codes):
        """The commit's exact row-level change set as typed CDC
        (``update_preimage``/``update_postimage``, full-row ``delete``,
        ``insert`` — the Delta CDF vocabulary), assembled from the
        shared merge plan's projection (or a slice of it)."""
        from pyspark.sql import functions as F

        pre = proj.select(
            "__act__", *[F.col("__t__")[c].alias(c) for c in tcols]
        )
        post = proj.drop("__t__", "__s__")

        def _typed(df, codes, kind):
            return (
                df.filter(F.col("__act__").isin(codes))
                .drop("__act__")
                .withColumn(self._CT, F.lit(kind))
            )

        cdc_parts = []
        if upd_codes:
            cdc_parts.append(_typed(pre, upd_codes, "update_preimage"))
            cdc_parts.append(_typed(post, upd_codes, "update_postimage"))
        if del_codes:
            cdc_parts.append(_typed(pre, del_codes, "delete"))
        if ins_codes:
            cdc_parts.append(_typed(post, ins_codes, "insert"))
        cdc = cdc_parts[0]
        for p in cdc_parts[1:]:
            cdc = cdc.unionByName(p)
        return cdc

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_columns: Optional[Sequence[str]] = None,
        *,
        clauses: Sequence[tuple],
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        prune_col: Optional[str] = None,
        mode: str = "cow",
    ) -> int:
        """Conditional ``MERGE INTO`` — the full SQL/Delta merge
        surface.  Its ``[update *, insert *]`` form is the keyed upsert
        :meth:`commit_merge` also commits, but with a typed change set
        and a fixed schema; the two share one commit builder.
        ``clauses`` is an ordered sequence of ``(kind, condition,
        payload)``:

        - ``("update", cond, {col: expr} | "*")`` — WHEN MATCHED
          [AND cond] THEN UPDATE SET ... (``"*"`` sets every target
          column from the like-named source column);
        - ``("delete", cond, None)`` — WHEN MATCHED [AND cond] THEN
          DELETE;
        - ``("insert", cond, {col: expr} | "*")`` — WHEN NOT MATCHED
          [AND cond] THEN INSERT (unassigned columns null-fill);
        - ``("update_by_source", cond, {col: expr})`` /
          ``("delete_by_source", cond, None)`` — WHEN NOT MATCHED BY
          SOURCE [AND cond] THEN UPDATE/DELETE.

        Conditions and expressions are SQL strings over the aliases
        ``t`` (target) and ``s`` (source) — ``"s.qty > t.qty"``.
        Within each population (matched / not-matched / not-matched-
        by-source) clauses apply in listed order, first satisfied
        condition wins; a row no clause claims is kept (target) or
        ignored (source).  More than one SOURCE row matching the same
        target key raises, the SQL/Delta ambiguity rule.  Right-hand
        sides see the OLD target row (simultaneous assignment) and
        results cast to each column's tracked type; updated and
        inserted rows face the CHECK/NOT NULL gate.

        Execution is Spark-first: one full-outer join of the target
        slice against the source drives every clause through a single
        CASE-typed action column — no per-clause scans.

        ``mode='cow'`` (default, copy-on-write): the touched slice —
        found by stats-pruned candidates (``prune_col``, a key column)
        narrowed by one semi-join scan — rewrites whole, so a narrow
        source batch against a wide table rewrites only the files
        actually holding matches; by-source clauses make every file a
        candidate by definition (any unmatched row may change).
        Requires a compacted table (no outstanding merge-on-read
        deltas).

        ``mode='dv'`` (the Delta 3.x deletion-vector MERGE): NO base
        file is rewritten — matched updates/deletes suppress the old
        row images via deletion vectors and only the post-image/insert
        rows land as new base files, so write cost is O(changed rows)
        however the matches scatter.  This mode also lifts the
        compacted-table precondition: the join runs against the
        RESOLVED view (dv applied, outstanding deltas last-writer-wins
        folded), and the suppression set covers EVERY stored image of
        an acted key — base rows, superseded delta rows, and delete
        tombstones (so an insert onto a tombstoned key genuinely
        resurrects it).  Outstanding deltas carry through untouched;
        reads pay the dv anti-join until :meth:`compact` /
        :meth:`optimize` materializes the suppression (see
        :meth:`delete_where`).  On a delta'd table the merge keys must
        equal the recorded ``key_columns`` (resolution is only defined
        on them).

        The commit stores its exact row-level change set as typed CDC
        (``update_preimage``/``update_postimage``, full-row
        ``delete``, ``insert`` — the Delta CDF vocabulary), so
        :meth:`changes`, the streaming source and the IVM maintainers
        read straight THROUGH it.  Schema is stable across a merge
        (evolution goes through ``evolve_schema``); the commit is the
        one every row-level writer shares (:meth:`_commit_rows`): OCC
        rebases over pure-metadata commits only while
        schema/mapping/constraints are unchanged.

        The reference's users run this statement against their target
        database (post_query, reference pypeline/Pype.py:167); here it
        is native, file-pruned, and feeds the change feed."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        if mode == "dv":
            return self._merge_into_dv(
                spark,
                source,
                key_columns,
                clauses=clauses,
                batch_id=batch_id,
                stats_cols=stats_cols,
                prune_col=prune_col,
            )
        if mode != "cow":
            raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
        what = "merge_into"
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if m.get("deltas"):
            raise ValueError(
                "merge_into rewrites base files (copy-on-write): "
                "compact() outstanding merge-on-read deltas first, or "
                "use mode='dv' (the deletion-vector MERGE works over "
                "outstanding deltas)"
            )
        keys, parsed, matched_idx, insert_idx, by_source_idx = (
            self._merge_prepare(m, source, key_columns, clauses, what)
        )
        rowtrack = bool(m.get("row_tracking"))
        # one lazy checkpoint: the source feeds up to three jobs (the
        # touched-file scan, the ambiguity guard, the merge itself) —
        # materialize its lineage once instead of recomputing a
        # possibly-expensive upstream pipeline per job
        src = source.localCheckpoint(eager=False)
        # -- phase 1: the touched file slice -----------------------------
        if by_source_idx:
            # any unmatched target row may change: every file is touched
            touched = list(m["files"])
        else:
            prune = (
                self._key_range(m, src, keys, prune_col)
                if m["files"] else None
            )
            cands = [
                f for f in m["files"]
                if prune is None or self._overlaps(m, f, *prune)
            ]
            touched = []
            if cands:
                # provenance tagged AT THE SCAN (input_file_name above
                # a join is undefined), then one semi-join finds the
                # files actually holding key matches
                hits = self._collect_index_metadata(
                    self._read_base_tagged(spark, m, cands)
                    .join(
                        src.select(*keys).distinct(), on=keys,
                        how="left_semi",
                    )
                    .select("__dvf__")
                    .distinct()
                )
                tset = set(hits.column("__dvf__").to_pylist())
                touched = [f for f in m["files"] if f in tset]
        if not touched and not insert_idx:
            return m["version"]  # nothing matched, nothing to insert
        carried = [f for f in m["files"] if f not in set(touched)]
        # -- the target slice (schema-complete even when empty) ----------
        # On a row-tracked table (r18 directive #4) the slice reads
        # WITH resolved ids: the merge plan then preserves
        # ``t.__row_id__`` on kept/updated rows ('*' payloads exclude
        # it, assignments reject it), inserts write null and mint
        # fresh ids positionally at publish — the CoW MERGE preserves
        # identity exactly like the dv MERGE.
        if touched:
            t_base = (
                self._rowid_content(spark, m, touched)
                if rowtrack
                else self._read_base(spark, m, touched)
            )
        elif m["files"]:
            t_base = (
                self._rowid_content(spark, m, m["files"][:1])
                if rowtrack
                else self._read_base(spark, m, m["files"][:1])
            ).limit(0)
        elif m.get("schema") is not None:
            t_base = spark.createDataFrame(
                [], StructType.fromJson(m["schema"])
            )
            if rowtrack:
                t_base = t_base.withColumn(
                    "__row_id__", F.lit(None).cast("long")
                )
        else:
            t_base = src.limit(0)  # empty untracked table: bootstrap
        # -- phase 2: one full-outer join, one action column -------------
        proj, tcols, upd_codes, del_codes, ins_codes = self._merge_plan(
            m, parsed, t_base, src, keys,
            guard=bool((matched_idx or by_source_idx) and touched),
        )
        content = proj.drop("__t__", "__s__")
        keep_codes = ["keep"] + upd_codes + ins_codes
        new_content = content.filter(
            F.col("__act__").isin(keep_codes)
        ).drop("__act__")
        novel = content.filter(
            F.col("__act__").isin(upd_codes + ins_codes)
        ).drop("__act__")
        self._validate_constraints(m, novel, what)
        # -- typed CDC (the commit's exact change set) --------------------
        cdc = self._merge_cdc(proj, tcols, upd_codes, del_codes, ins_codes)
        # -- write + commit (the row-level writers' shared tail) ----------
        written = self._write_rows(
            m, new_content, stats_cols, m.get("bloom_cols", []),
            keep_one=not carried,
        )
        if not touched and not any(
            v.get("rows") for v in written[2].values()
        ):
            # insert-only merge that inserted nothing: no commit (the
            # empty orphaned fileset is gc_orphans debris)
            return m["version"]
        cdc_w = self._write_rows(m, cdc, keep_one=True)
        return self._commit_rows(
            m, what, batch_id, written=written, cdc=cdc_w,
            op_metrics=self._cdc_op_metrics(spark, cdc_w[0]), novel=novel,
            keys=keys, carried=carried,
        )

    #: column names the deletion-vector machinery reserves: the row
    #: provenance tags (`__dvf__`/`__dvp__`) and the dv fileset schema
    #: (`__file__`/`__pos__`).  A user column with one of these names
    #: would make every dv read/DML an ambiguous-column error mid-plan,
    #: so dv writers reject it up front (ADVICE r15).
    _DV_RESERVED = frozenset({"__dvf__", "__dvp__", "__file__", "__pos__"})

    def _guard_dv_reserved(self, m: dict, extra_cols, what: str) -> None:
        """Reject user columns that collide with the reserved
        deletion-vector names — the same up-front rule ``merge_into``
        applies to ``__t__``/``__s__``/``__act__``."""
        cols = set(extra_cols or ())
        sch = m.get("schema")
        if sch is not None:
            cols |= {f["name"] for f in sch["fields"]}
        bad = sorted(self._DV_RESERVED & cols)
        if bad:
            raise ValueError(
                f"{what}: column(s) {bad} collide with the reserved "
                f"deletion-vector names {sorted(self._DV_RESERVED)} — "
                "rename them before using dv reads/DML"
            )

    def _merge_into_dv(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_columns: Optional[Sequence[str]] = None,
        *,
        clauses: Sequence[tuple],
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        prune_col: Optional[str] = None,
    ) -> int:
        """The deletion-vector MERGE behind ``merge_into(mode='dv')``
        (the Delta 3.x DV-enabled MERGE): the clause plan runs against
        the RESOLVED view (dv applied, outstanding merge-on-read
        deltas last-writer-wins folded), matched updates/deletes
        suppress EVERY stored image of their key — base rows,
        superseded delta rows and delete tombstones, found by ONE
        provenance-tagged semi-join scan — and only the post-image /
        insert rows land as new base files.  Write cost is O(changed
        rows); no base or delta file is rewritten; outstanding deltas
        carry through untouched.  Suppressing ALL images (not just the
        winning one) is what keeps last-writer-wins resolution exact:
        the new post-image joins the base rank, so any stale delta-rank
        image left alive would shadow it — and an insert onto a
        tombstoned key only resurrects if the tombstone dies too."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        what = "merge_into[dv]"
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        keys, parsed, matched_idx, insert_idx, by_source_idx = (
            self._merge_prepare(m, source, key_columns, clauses, what)
        )
        if m.get("deltas") and m.get("key_columns") and keys != m["key_columns"]:
            raise ValueError(
                f"{what}: merge keys {keys} must equal the recorded "
                f"key_columns {m['key_columns']} while merge-on-read "
                "deltas are outstanding (resolution is only defined "
                "on them)"
            )
        self._guard_dv_reserved(m, source.columns, what)
        # one lazy checkpoint: the source feeds the resolved join, the
        # ambiguity guard and (via bounds) the suppression-scan prune
        src = source.localCheckpoint(eager=False)
        has_content = bool(m["files"] or m.get("deltas"))
        # -- the resolved target, file-pruned when provably sound ------
        prune = (
            self._key_range(m, src, keys, prune_col)
            if has_content and not by_source_idx else None
        )
        if m.get("row_tracking") and has_content:
            # thread the stable row id through the merge: updates keep
            # the matched target row's id (it rides tcols into the
            # post images and the CDC), inserts mint fresh ids at read
            # via their file's base_row_id + position.  Over
            # outstanding deltas the slice is the RESOLVED view with
            # inherited ids (delta-only keys NULL → their post-images
            # materialize with fresh ids, r19 #2).
            t_base = self._resolved_with_rowids(spark, m, prune)
        elif has_content:
            t_base = self.read_resolved(
                spark, version=m["version"], prune=prune
            )
        else:
            t_base = None
        if t_base is None:
            if m.get("schema") is not None:
                t_base = spark.createDataFrame(
                    [], StructType.fromJson(m["schema"])
                )
            else:
                t_base = src.limit(0)  # empty untracked table: bootstrap
        proj, tcols, upd_codes, del_codes, ins_codes = self._merge_plan(
            m, parsed, t_base, src, keys,
            guard=bool((matched_idx or by_source_idx) and has_content),
        )
        # dv mode writes acted rows only, never keep/drop ones: run the
        # join once into that batch-sized slice, which the suppression
        # keys, the post images and the CDC then all read
        acted = proj.filter(
            F.col("__act__").isin(upd_codes + del_codes + ins_codes)
        ).localCheckpoint(eager=False)
        novel = acted.filter(
            F.col("__act__").isin(upd_codes + ins_codes)
        ).drop("__act__", "__t__", "__s__")
        self._validate_constraints(m, novel, what)
        cdc = self._merge_cdc(acted, tcols, upd_codes, del_codes, ins_codes)
        # -- the suppression set: every stored image of an acted key ----
        # updates/deletes always suppress; inserts only need to when
        # deltas are outstanding (a tombstone or LWW-shadowed stale
        # image may exist for a key the resolved view calls absent)
        sup_codes = list(upd_codes + del_codes)
        if m.get("deltas"):
            sup_codes += ins_codes
        dv = ([], {}, {})
        if sup_codes and has_content:
            skeys = (
                acted.filter(F.col("__act__").isin(sup_codes))
                .select(*[F.col("__s__")[k].alias(k) for k in keys])
                .distinct()
            )
            base_cands = [
                f
                for f in m["files"]
                if prune is None or self._overlaps(m, f, *prune)
            ]
            delta_cands = [
                f
                for fs in m.get("deltas", [])
                for f in fs
                if prune is None or self._overlaps(m, f, *prune)
            ]
            parts = []
            if base_cands:
                parts.append(
                    self._read_base_tagged(spark, m, base_cands).select(
                        *keys, "__dvf__", "__dvp__"
                    )
                )
            if delta_cands:
                parts.append(
                    self._read_delta_tagged(spark, m, delta_cands).select(
                        *keys, "__dvf__", "__dvp__"
                    )
                )
            if parts:
                tagged = parts[0]
                for p in parts[1:]:
                    tagged = tagged.unionByName(p)
                dv = self._write_dv(
                    spark, tagged.join(skeys, on=keys, how="left_semi")
                )
        # -- the post-image / insert fileset ----------------------------
        written = (
            self._write_rows(
                m, novel, stats_cols, m.get("bloom_cols", [])
            )
            if upd_codes or ins_codes else ([], {}, {})
        )
        if not dv[2] and not written[0]:
            # nothing matched a clause, nothing inserted: no commit
            # (the empty orphaned filesets are gc_orphans debris)
            return m["version"]
        cdc_w = self._write_rows(m, cdc, keep_one=True)
        return self._commit_rows(
            m, what, batch_id, written=written, cdc=cdc_w,
            op_metrics=self._cdc_op_metrics(spark, cdc_w[0]), novel=novel,
            keys=keys, dv=dv,
        )

    # -- merge-on-read --------------------------------------------------------
    #
    # commit_merge above is COPY-ON-WRITE: every commit rewrites its key-
    # overlapping slice, which is right at batch cadence but makes a
    # high-frequency or wide-overlap update stream pay a rewrite per
    # commit.  The merge-on-read path below is the standard alternative
    # (Hudi MOR / Iceberg v2 read-merging): a commit just APPENDS the
    # batch as delta files and bumps the manifest — O(batch) write cost,
    # zero base-file rewrites — and readers resolve last-writer-wins at
    # scan time.  Compaction folds the deltas back into base files on a
    # schedule, restoring read cost.  Same atomic pointer-swap protocol,
    # same batch_id exactly-once ledger; deletes ride the same shape as
    # TOMBSTONE rows (the ``deletes=`` path below — Hudi/Iceberg v2
    # delete semantics, resolved away at read time).

    _CT = "__ct__"  # internal per-row change-type column in delta files

    def commit_delta(
        self,
        updates: Optional[DataFrame],
        key_columns: Sequence[str],
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        deletes: Optional[DataFrame] = None,
        cdc: bool = False,
    ) -> int:
        """Merge-on-read keyed upsert + delete: append the batch as
        DELTA files — no base file is read or rewritten.
        ``key_columns`` is recorded in the manifest on first use
        (readers need it to resolve) and must stay identical across
        commits.  Caller contract (same as the copy-on-write upsert):
        at most one row per key within a batch, across ``updates`` and
        ``deletes`` combined.

        ``deletes``: a frame carrying (at least) the key columns whose
        keys this commit REMOVES — written as tombstone rows (key
        columns + the internal change-type marker, value columns null)
        in the same delta fileset.  ``read_resolved`` drops a key whose
        latest row is a tombstone (last-writer-wins first, then the
        delete applies); ``compact``/``optimize`` fold tombstones away
        for good.  A tombstone for an absent key is a harmless no-op.
        ``updates=None`` makes a delete-only commit.

        ``cdc=True`` additionally records WHICH upserts were inserts
        vs updates (the Delta MERGE-CDC shape, feeding
        :meth:`changes`' ``_change_type``): one column-pruned
        existence probe of the batch keys against the resolved
        snapshot this commit was built on.  That probe is the price of
        insert/update attribution — exactly the knowledge Delta gets
        for free inside MERGE — and is the ONE deviation from the
        blind-append O(batch) cost: it scans key columns only
        (Catalyst prunes the parquet read to the keys), so leave
        ``cdc=False`` (types reported as ``'upsert'``) when downstream
        consumers don't need the distinction.  Change types describe
        the snapshot the commit was BUILT on; under a concurrent-delta
        OCC rebase they are not recomputed (WriteSerializable-style
        attribution, same as Delta)."""
        if updates is None and deletes is None:
            raise ValueError("commit_delta needs updates and/or deletes")
        from pyspark.sql import functions as F

        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        # Row tracking composes with the delta tier by DEFERRED id
        # assignment (r19 directive #2, the Delta lazy-id shape):
        # delta rows carry no identity at commit time — a resolved
        # read inherits the base id for an existing key, and a key
        # introduced here materializes (and mints its id at the
        # publish choke point) on the first compaction / dv-merge
        # rewrite.  The batch must not claim ids or identity values.
        if m.get("row_tracking"):
            claimed = set(
                list(updates.columns) if updates is not None else []
            ) | set(list(deletes.columns) if deletes is not None else [])
            if "__row_id__" in claimed:
                raise ValueError(
                    "commit_delta: __row_id__ is the row-tracking "
                    "identity — the table assigns it at "
                    "materialization; drop the column from the batch"
                )
        if updates is not None:
            self._require_no_identity_values(
                m, updates.columns, "commit_delta"
            )
        keys = list(key_columns)
        if m.get("key_columns") not in (None, keys):
            raise ValueError(
                f"key_columns {keys} != recorded {m['key_columns']}"
            )
        if updates is not None:
            # upsert rows face the CHECK/NOT NULL gate; tombstones are
            # exempt (keys + marker only — the Delta delete rule).
            # DEFAULT/generated columns fill first, so a reference-
            # shaped producer that never heard of the new column still
            # commits complete rows.
            updates = self._apply_column_defaults(m, updates, "commit_delta")
            self._validate_constraints(m, updates, "commit_delta")
        batch = updates
        if batch is not None and cdc:
            # typed CDC: one existence probe against the snapshot this
            # commit is built on (version-pinned — concurrent commits
            # can't smear the attribution); resolved view => <=1 row
            # per key, so the left join cannot fan out
            existing = self.read_resolved(
                batch.sparkSession, version=m["version"]
            )
            if existing is None:
                batch = batch.withColumn(self._CT, F.lit("insert"))
            else:
                probe = existing.select(*keys).withColumn(
                    "__ex__", F.lit(True)
                )
                batch = (
                    batch.join(probe, keys, "left")
                    .withColumn(
                        self._CT,
                        F.when(F.col("__ex__").isNotNull(), F.lit("update"))
                        .otherwise(F.lit("insert")),
                    )
                    .drop("__ex__")
                )
        elif batch is not None and deletes is not None:
            # untyped upserts must still be distinguishable from the
            # tombstones sharing the fileset
            batch = batch.withColumn(self._CT, F.lit("upsert"))
        if deletes is not None:
            missing = [k for k in keys if k not in deletes.columns]
            if missing:
                raise ValueError(
                    f"deletes frame lacks key column(s) {missing}"
                )
            tomb = deletes.select(*keys).withColumn(
                self._CT, F.lit("delete")
            )
            batch = (
                tomb
                if batch is None
                else batch.unionByName(tomb, allowMissingColumns=True)
            )
        # the fileset is written ONCE, before the OCC loop; on a mapped
        # table its physical names are fixed by the assignment as of m
        schema = self._write_schema(m, batch)
        wdf, wstats, wbloom = self._for_write(
            self._carry_mapping(m), schema[0], batch, stats_cols,
            m.get("bloom_cols", []),
        )
        # a blind append: serializes after concurrent deltas (same
        # keys, re-checked per rebase), base-file appends, predicate
        # DML, metadata-only commits and content-preserving reorgs;
        # content rewrites abort
        return self._commit_rows(
            m, "commit_delta", batch_id,
            written=self._write_fileset(wdf, wstats, wbloom), novel=batch,
            keys=keys, delta=True, schema=schema,
        )

    def read_resolved(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        prune: Optional[tuple] = None,
        timestamp=None,
        with_rowids: bool = False,
    ) -> Optional[DataFrame]:
        """Snapshot read with delta resolution: base ∪ deltas, latest
        commit wins per key.  Resolution is a SINGLE shuffle on the key
        columns regardless of how many delta commits are outstanding —
        each fileset is tagged with its commit rank and one row_number
        window keeps the highest rank per key (k sequential upserts
        would instead shuffle k times).  A key whose WINNING row is a
        delete tombstone (``commit_delta(deletes=...)``) is dropped —
        last-writer-wins first, then the delete applies, so an upsert
        committed after a delete resurrects the key (Hudi/Iceberg v2
        read-merging semantics) — and the internal change-type marker
        never leaks into the resolved schema.

        ``prune``: optional ``(col, lo, hi)`` stats-based file skipping
        composed with resolution.  Only sound when ``col`` is a KEY
        column: then every row of a given key shares the column's
        value, so all of that key's base+delta rows live in overlapping
        files and the surviving rows resolve completely.  (For a
        non-key column a key's latest delta row could be filtered out
        while its stale base row survives — asserted against.)

        A POINT prune (``lo == hi``) additionally consults the
        per-file Bloom bitsets on base AND delta files — the
        merge-on-read point-lookup shape: ``commit_delta`` indexes
        each delta batch at write time, so a single-key read opens
        only the handful of files whose bloom admits the key instead
        of every delta whose [min, max] envelope spans the keyspace.

        ``timestamp`` (exclusive with ``version``) is ``TIMESTAMP AS
        OF``: resolve at the latest commit <= ts.

        ``with_rowids`` (row-tracked tables): attach the stable
        ``__row_id__`` under DEFERRED assignment (r19 directive #2,
        the Delta lazy-id shape for merge-on-read): a resolved row
        whose key is visible in the BASE inherits that base row's id —
        updates preserve identity — while a key introduced by an
        outstanding delta carries NULL until it first materializes
        into base files (compaction / dv-merge rewrite), where the
        publish choke point mints its id.  Inheritance rides the SAME
        key-partitioned window shuffle the last-writer-wins fold
        already pays (one ``max`` over the key partition — base keys
        are unique, so the max IS the base id); no extra join, no
        extra shuffle, at any table size.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        version = self._resolve_version(version, timestamp)
        m = self._manifest_at(version)
        deltas = m.get("deltas", [])
        if with_rowids and not m.get("row_tracking"):
            raise ValueError(
                "read_resolved(with_rowids=True): row tracking is not "
                "enabled on this table (or not at this version)"
            )
        # identity columns derive from the row id: over outstanding
        # deltas the plain resolved view must inherit ids internally
        # so identity values stay correct for base-backed keys
        want_ids = with_rowids or bool(
            deltas and m.get("row_tracking") and m.get("identity_cols")
        )
        if not deltas:
            if with_rowids:
                names = m["files"]
                if prune is not None:
                    names, _n = self.prune_plan(
                        prune[0], prune[1], prune[2], version=version
                    )
                return (
                    self._rowid_content(spark, m, names) if names else None
                )
            if prune is not None:
                pcol, plo, phi = prune
                if plo is not None and plo == phi:
                    # bloom + stats point lookup on the compacted base
                    return self.read_pruned_eq(spark, pcol, plo, version=version)
                return self.read_pruned(spark, *prune, version=version)
            return self.read(spark, version)
        keys = m["key_columns"]
        col = lo = hi = None
        if prune is not None:
            col, lo, hi = prune
            if col not in keys:
                raise ValueError(
                    f"prune column {col!r} must be a key column {keys} "
                    "for merge-on-read pruning to be exact"
                )
        point = lo is not None and lo == hi
        filesets = [m["files"]] + list(deltas)
        parts = []
        for rank, names in enumerate(filesets):
            if col is not None:
                names = [
                    f for f in names if self._overlaps(m, f, col, lo, hi)
                ]
                if point:
                    names = [
                        f
                        for f in names
                        if self._bloom_may_contain(m, f, col, lo)
                    ]
            if not names:
                continue
            if rank == 0:
                # base files read under the tracked schema (a pruned
                # evolved merge leaves carried files without the new
                # columns — null-fill them); delta files read raw so
                # their internal marker column survives the union —
                # mapped back to logical names on a column-mapped table.
                # Both apply the version's deletion vectors (a dv-mode
                # MERGE suppresses superseded DELTA rows too).  When
                # ids are wanted the base part carries __row_id__
                # (delta parts null-fill via allowMissingColumns).
                df = (
                    self._rowid_content(spark, m, names)
                    if want_ids
                    else self._read_base(spark, m, names)
                )
            else:
                df = self._read_delta_logical(spark, m, names)
            parts.append(df.withColumn("__rank__", F.lit(rank)))
        if not parts:
            full = self.read(spark, version)
            if full is None:
                return None
            full = full.limit(0)
            if with_rowids:
                full = full.withColumn(
                    "__row_id__", F.lit(None).cast("long")
                )
            return full
        # allowMissingColumns: additive schema evolution across commits
        # (a delta batch may carry a new column; base rows resolve with
        # NULL there — the Iceberg/Delta mergeSchema read behavior)
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p, allowMissingColumns=True)
        if want_ids:
            # id inheritance BEFORE the LWW filter, over the same key
            # partitioning the fold shuffles on: every image of a key
            # is present here, and only its base image (unique per
            # key, dv already applied) carries an id — max() selects
            # it, and delta-only keys stay NULL (deferred assignment)
            if "__row_id__" not in unioned.columns:
                unioned = unioned.withColumn(
                    "__row_id__", F.lit(None).cast("long")
                )
            unioned = unioned.withColumn(
                "__row_id__",
                F.max("__row_id__").over(Window.partitionBy(*keys)),
            )
        w = Window.partitionBy(*keys).orderBy(F.col("__rank__").desc())
        resolved = (
            unioned.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rank__", "__rn__")
        )
        if self._CT in resolved.columns:
            # winning tombstone => key deleted; legacy/base rows carry
            # a null marker (allowMissingColumns) and always survive
            resolved = resolved.filter(
                F.col(self._CT).isNull() | (F.col(self._CT) != "delete")
            ).drop(self._CT)
        if col is not None:
            if lo is not None:
                resolved = resolved.filter(F.col(col) >= lo)
            if hi is not None:
                resolved = resolved.filter(F.col(col) <= hi)
        if want_ids and m.get("identity_cols"):
            # identity derives from the inherited id: delta-won rows
            # of an existing key keep the key's identity value;
            # delta-only keys are NULL until materialization mints ids
            resolved = self._apply_identity(m, resolved)
        if want_ids and not with_rowids:
            resolved = resolved.drop("__row_id__")
        return resolved

    def compact(
        self,
        spark: SparkSession,
        stats_cols: Sequence[str] = (),
        batch_id: Optional[str] = None,
        bloom_cols: Optional[Sequence[str]] = None,
    ) -> int:
        """Fold outstanding deltas into new base files (scheduled
        compaction): materialize the resolved view, publish it as the
        new base, clear the delta list.  Old base+delta files stay
        readable for time travel until vacuum.

        The table's recorded ``bloom_cols`` property is rebuilt on the
        new base files by default — without the rebuild a compaction
        would silently drop the per-file Bloom indexes, degrading
        equality-probe skipping to opening every file.  Pass an
        explicit sequence to override the property (an empty one
        CLEARS it; ``None`` inherits).  The rebuild runs distributed
        at compaction time like any lakehouse bloom index."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if not m.get("deltas") and not m.get("dv"):
            return m["version"]
        # deltas fold in via read_resolved; deletion vectors are
        # materialized the same way (_read_base applies them), and the
        # fresh manifest below carries no dv — compaction restores
        # join-free reads on every file
        bloom = m.get("bloom_cols", []) if bloom_cols is None else list(bloom_cols)
        resolved = (
            # surviving rows keep their ids through the fold: base-
            # backed keys write their inherited __row_id__ physically,
            # delta-introduced keys write NULL and the publish choke
            # point mints theirs (deferred assignment, r19 #2)
            self._resolved_with_rowids(spark, m)
            if m.get("row_tracking")
            else self.read_resolved(spark)
        )
        if self._mapping_enabled(m):
            # content-preserving: the tracked schema (with its ids)
            # carries; align the resolved view to it (a pure-delta
            # table may resolve narrower — null-fill) and write under
            # physical names.  Rebuilding the schema from the frame
            # (the unmapped path below) would drop the id metadata.
            schema = m["schema"]
            resolved = self._align_to_schema(resolved, schema)
            wdf, wstats, wbloom = self._for_write(
                self._carry_mapping(m), schema, resolved, stats_cols, bloom
            )
        else:
            # the materialized resolved view IS the whole content: its
            # schema (the evolved union) becomes the tracked schema —
            # this is also where a legacy table picks up tracking
            schema = self._merge_schema(None, resolved)
            wdf, wstats, wbloom = resolved, stats_cols, bloom
        files, stats, filemeta = self._write_fileset(wdf, wstats, wbloom)
        new = {
            "version": m["version"] + 1,
            "files": files,
            "deltas": [],
            "key_columns": m.get("key_columns"),
            "batch_ids": m["batch_ids"] + ([batch_id] if batch_id is not None else []),
            "stats": stats,
            "filemeta": filemeta,
            "bloom_cols": bloom,
            "schema": schema,
            # content-preserving rewrite: the change feed reads through
            # it and blind appends rebase over it
            "reorg": True,
            # ANALYZE profile + NDV sketch state ride along (an
            # overwrite resets both); column-mapping state always rides
            **self._carry_meta(m),
            **self._carry_mapping(m),
        }
        self._publish(new)
        return new["version"]

    def optimize(
        self,
        spark: SparkSession,
        target_rows: int,
        batch_id: Optional[str] = None,
        stats_cols: Sequence[str] = (),
        bloom_cols: Optional[Sequence[str]] = None,
        small_file_bytes: Optional[int] = None,
        cluster_by: Optional[Sequence] = None,
    ) -> int:
        """Bin-packing compaction (the lakehouse ``OPTIMIZE`` shape):
        rewrite the table — outstanding merge-on-read deltas folded in —
        as ``ceil(rows / target_rows)`` evenly sized files, clearing the
        small-file debt that frequent commits accumulate.  Old versions
        stay readable for time travel until :meth:`vacuum`.

        Differs from :meth:`compact` (which only folds deltas and keeps
        the incoming partitioning): ``optimize`` re-buckets round-robin
        to the target file count, so a table fragmented by many narrow
        commits comes back to scan-efficient file sizes.  The round-robin
        repartition guarantees evenly filled output files and an exact,
        predictable file count whenever rows >= file count.

        The table's recorded ``bloom_cols`` property is rebuilt on the
        new files by default (``None`` inherits, a sequence overrides,
        an empty one clears) — same contract as :meth:`compact`, so an
        OPTIMIZE never silently drops the equality-skipping index.

        Scale: this is the maintenance operation that keeps a 100 TB
        manifest table healthy — file count is the unit of both planning
        cost (O(files) manifest entries) and scan parallelism, and
        without periodic bin-packing a streaming or CDC ingest degrades
        into millions of KB-sized files.  The rewrite is one round-robin
        shuffle sized by the data, the index rebuilds run distributed,
        and the driver handles only O(files) metadata.

        ``small_file_bytes`` makes the rewrite SELECTIVE (the shape
        real OPTIMIZE implementations use to bound rewrite
        amplification): only files under the size floor are read and
        bin-packed; every right-sized file's manifest entry (name +
        stats + bloom) carries over verbatim, exactly like
        commit_merge's pruned path.  Correct because base files
        partition the rows — carrying a file unchanged preserves its
        rows bit-for-bit, and the rewritten set is the complement.
        Sizes come from the manifest's per-file ``filemeta`` recorded
        at commit time (pure metadata, no filesystem round-trips); a
        legacy entry without recorded bytes falls back to one
        ``os.stat``.  Selective mode refuses outstanding merge-on-read
        deltas (resolution needs every base row; fold them first with
        a full ``optimize``/``compact``).

        The target file count likewise comes from manifest metadata —
        the sum of the touched files' recorded row counts — so a
        no-delta OPTIMIZE plans with ZERO data passes before the one
        rewrite shuffle.  Only the merge-on-read path still counts:
        key resolution (last writer wins) changes cardinality in a way
        metadata cannot know; there the resolved view is
        lazily-checkpointed so the count materializes the SAME blocks
        the write then reuses — one resolution pass, not two.

        ``cluster_by=(c1, .., ck)`` replaces the round-robin
        re-bucketing with a Morton (Z-order) range clustering over k
        numeric columns — the ``OPTIMIZE ... ZORDER BY`` shape:
        without it a rewrite of a previously Z-ordered table destroys
        the clustering and widens every per-file stats envelope,
        trading skipping for file count.  Each dimension is scaled
        into the z domain from its data bounds (taken from the
        manifest's recorded per-file stats — base AND delta files —
        when coverage is complete — metadata only — else one
        broadcast min/max aggregate folded into the plan), then one
        ``repartitionByRange`` on the interleave + an in-partition
        sort: identical cost shape to the round-robin shuffle, but
        the output files come back z-disjoint with narrow envelopes
        in EVERY clustered column (2-D and 3-D pinned in
        tests/test_manifest.py; a single column degenerates to plain
        range clustering).  The z key is layout-only and never
        written — the table schema is unchanged."""
        if target_rows < 1:
            raise ValueError(f"target_rows must be >= 1, got {target_rows}")
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if not m["files"] and not m.get("deltas"):
            return m["version"]  # nothing to rewrite
        filemeta = m.get("filemeta", {})

        def _size(f: str) -> int:
            b = filemeta.get(f, {}).get("bytes")
            return (
                b
                if b is not None
                else os.path.getsize(self._path(f))
            )

        carried: list[str] = []
        if small_file_bytes is not None:
            if m.get("deltas"):
                raise ValueError(
                    "outstanding merge-on-read deltas: selective optimize "
                    "cannot fold them — run optimize without "
                    "small_file_bytes (full rewrite) or compact() first"
                )
            carried = [f for f in m["files"] if _size(f) >= small_file_bytes]
            if len(carried) == len(m["files"]):
                return m["version"]  # nothing under the floor: no-op
        carried_set = set(carried)
        touched = [f for f in m["files"] if f not in carried_set]
        if m.get("deltas"):
            # cardinality after last-writer-wins resolution is not
            # metadata-derivable; checkpoint lazily so the sizing count
            # materializes the blocks the rewrite below then reuses
            # (id-preserving on a tracked table — same rule as compact)
            current = (
                self._resolved_with_rowids(spark, m)
                if m.get("row_tracking")
                else self.read_resolved(spark)
            ).localCheckpoint(eager=False)
            total = current.count()
        else:
            current = (
                self._rowid_content(spark, m, touched)
                if m.get("row_tracking")
                else self._read_base(spark, m, touched)
            )
            rows = [filemeta.get(f, {}).get("rows") for f in touched]
            if all(r is not None for r in rows):
                # pure metadata: zero data passes — footer counts minus
                # the rows each file's deletion vector suppresses (the
                # rewrite reads through _read_base, so those rows are
                # already gone from it)
                dv_rows = (m.get("dv") or {}).get("rows", {})
                total = sum(rows) - sum(
                    dv_rows.get(f, 0) for f in touched
                )
            else:
                total = current.count()  # legacy manifest without rows
        n_files = max(1, -(-total // target_rows))  # ceil division
        if cluster_by is not None:
            rewrite = self._cluster_for_rewrite(
                current, cluster_by, n_files, m, touched
            )
        else:
            rewrite = current.repartition(n_files)
        bloom = m.get("bloom_cols", []) if bloom_cols is None else list(bloom_cols)
        if self._mapping_enabled(m):
            wdf, wstats, wbloom = self._for_write(
                self._carry_mapping(m),
                m["schema"],
                self._align_to_schema(rewrite, m["schema"]),
                stats_cols,
                bloom,
            )
        else:
            wdf, wstats, wbloom = rewrite, stats_cols, bloom
        files, stats, new_meta = self._write_fileset(wdf, wstats, wbloom)
        if cluster_by is not None:
            # tag the rewritten files with their clustering key so
            # evolve_clustering can tell converged files from pending
            # ones by METADATA alone (round-robin output stays untagged
            # — the rewrite genuinely destroyed any clustering).  The
            # tag stores PHYSICAL names on a mapped table (identity
            # otherwise) so a later rename_column doesn't make
            # converged files look pending
            tag = self._translate_cols(m, [str(c) for c in cluster_by])
            for f in files:
                new_meta.setdefault(f, {})["clustered"] = tag
        new = {
            "version": m["version"] + 1,
            "files": carried + files,
            "deltas": [],
            "key_columns": m.get("key_columns"),
            "batch_ids": m["batch_ids"] + ([batch_id] if batch_id is not None else []),
            "stats": {
                **{f: m["stats"][f] for f in carried if f in m.get("stats", {})},
                **stats,
            },
            "filemeta": {
                **{f: filemeta[f] for f in carried if f in filemeta},
                **new_meta,
            },
            "bloom_cols": bloom,
            # content-preserving rewrite: the change feed reads through
            # it and blind appends rebase over it (with deletion
            # vectors this holds on the LOGICAL content — the rewrite
            # materializes the suppression the dv already declared)
            "reorg": True,
            # ANALYZE profile + NDV sketch state ride along (an
            # overwrite resets both); column-mapping state always rides
            **self._carry_meta(m),
            **self._carry_mapping(m),
            **self._carry_dv(m, carried),
        }
        if m.get("schema") is not None:
            new["schema"] = m["schema"]  # content-preserving: carry
        elif not carried:
            # full rewrite on an untracked table: the rewrite frame is
            # the whole content — begin tracking here
            new["schema"] = self._merge_schema(None, rewrite)
        self._publish(new)
        return new["version"]

    def reorg_purge(
        self,
        spark: SparkSession,
        batch_id: Optional[str] = None,
        min_dv_fraction: float = 0.0,
        stats_cols: Sequence[str] = (),
    ) -> int:
        """``REORG TABLE .. APPLY (PURGE)`` (the Delta shape):
        materialize deletion vectors by rewriting ONLY the files that
        carry them — every clean file's manifest entry (name + stats +
        bloom + filemeta) carries over verbatim, so the rewrite cost
        is bounded by the dv'd slice, not the table.  With
        ``min_dv_fraction`` only files whose suppressed-row share
        exceeds the threshold rewrite (Delta's targeted purge: a file
        with 2 deleted rows out of a million isn't worth rewriting
        yet); files below it keep their dv entries and readers keep
        anti-joining.  A content-preserving ``reorg`` commit: the
        change feed reads through it, blind appends rebase over it.
        No-op (no commit) when nothing qualifies.  Refuses outstanding
        merge-on-read deltas (resolution needs every base row — fold
        them with compact()/optimize() first).

        Scale: this is the dv maintenance verb — dv DML keeps commits
        O(matched rows) at ingest time, and PURGE moves the deferred
        rewrite to the maintenance window, sized by dv density instead
        of table size."""
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        dv = m.get("dv")
        if not dv:
            return m["version"]
        if m.get("deltas"):
            raise ValueError(
                "outstanding merge-on-read deltas: reorg_purge rewrites "
                "file subsets and cannot resolve keys — fold them with "
                "compact()/optimize() first"
            )
        filemeta = m.get("filemeta", {})

        def _fraction(f: str) -> float:
            rows = filemeta.get(f, {}).get("rows")
            if not rows:
                return 1.0  # unknown footer count: qualify (conservative)
            return dv["rows"].get(f, 0) / rows

        pending = [
            f
            for f in m["files"]
            if f in dv["rows"] and _fraction(f) > min_dv_fraction
        ]
        if not pending:
            return m["version"]  # nothing dense enough: no commit
        pending_set = set(pending)
        carried = [f for f in m["files"] if f not in pending_set]
        # _read_base applies the dv: the rewrite IS the materialization
        current = self._read_base(spark, m, pending)
        bloom = m.get("bloom_cols", [])
        if self._mapping_enabled(m):
            wdf, wstats, wbloom = self._for_write(
                self._carry_mapping(m), m["schema"],
                self._align_to_schema(current, m["schema"]),
                stats_cols, bloom,
            )
        else:
            wdf, wstats, wbloom = current, stats_cols, bloom
        files, stats, new_meta = self._write_fileset(wdf, wstats, wbloom)
        new = {
            "version": m["version"] + 1,
            "files": carried + files,
            "deltas": [],
            "key_columns": m.get("key_columns"),
            "batch_ids": m["batch_ids"]
            + ([batch_id] if batch_id is not None else []),
            "stats": {
                **{f: m["stats"][f] for f in carried if f in m.get("stats", {})},
                **stats,
            },
            "filemeta": {
                **{f: filemeta[f] for f in carried if f in filemeta},
                **new_meta,
            },
            "bloom_cols": bloom,
            # content-preserving on the LOGICAL rows: the rewrite only
            # materialized suppression the dv already declared
            "reorg": True,
            **self._carry_meta(m),
            **self._carry_mapping(m),
            **self._carry_dv(m, carried),
        }
        if m.get("schema") is not None:
            new["schema"] = m["schema"]
        self._publish(new)
        return new["version"]

    def evolve_clustering(
        self,
        spark: SparkSession,
        cluster_by: Sequence,
        target_rows: int,
        batch_id: Optional[str] = None,
        max_files_per_step: Optional[int] = None,
        stats_cols: Sequence[str] = (),
    ) -> tuple[int, int]:
        """PARTITION EVOLUTION: re-cluster a live table onto a new key
        WITHOUT a stop-the-world rewrite.  Each call is ONE bounded
        maintenance commit: up to ``max_files_per_step`` files not yet
        clustered by ``cluster_by`` (decided by the per-file
        ``clustered`` tag in filemeta — pure metadata) are read, Morton-range-
        clustered via the same machinery as ``optimize(cluster_by=..)``
        and republished; every already-converged file's manifest entry
        carries over verbatim.  Returns ``(version, files_rewritten)``;
        ``files_rewritten == 0`` means converged (no commit happens).
        Repeated calls — e.g. one per maintenance window between
        streaming compactions — converge the whole table.

        Correctness: base files partition the rows, so rewriting a
        subset losslessly and carrying the complement is exact (the
        selective-OPTIMIZE argument).  z-bounds are derived from the
        WHOLE table's stats (not just the step's slice) so buckets are
        comparable across steps; per-file envelopes narrow step by
        step, and readers prune against whatever stats each file
        currently has — evolution never degrades a query, it only
        improves skipping monotonically.

        Refuses outstanding merge-on-read deltas (resolution needs
        every base row — fold them with ``compact``/``optimize``
        first), mirroring selective OPTIMIZE.

        Scale: re-clustering 100 TB in one shot is a full-table
        shuffle no maintenance window tolerates (and a crash burns the
        whole attempt); evolution amortizes it into commits of
        ``max_files_per_step`` files each with snapshot-isolated
        readers throughout — the Iceberg partition-evolution /
        Delta incremental-ZORDER operational shape."""
        if target_rows < 1:
            raise ValueError(f"target_rows must be >= 1, got {target_rows}")
        if max_files_per_step is not None and max_files_per_step < 1:
            raise ValueError(
                f"max_files_per_step must be >= 1, got {max_files_per_step}"
            )
        cols = [str(c) for c in cluster_by]
        if not cols:
            raise ValueError("cluster_by needs at least one column")
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"], 0
        if m.get("deltas"):
            raise ValueError(
                "outstanding merge-on-read deltas: evolve_clustering "
                "rewrites file subsets and cannot resolve keys — fold "
                "them with compact()/optimize() first"
            )
        filemeta = m.get("filemeta", {})
        # convergence compares PHYSICAL names (what the tags store on a
        # mapped table) so a rename_column between steps doesn't force
        # a spurious re-cluster of already-converged files
        cols_phys = self._translate_cols(m, cols)
        pending = [
            f
            for f in m["files"]
            if filemeta.get(f, {}).get("clustered") != cols_phys
        ]
        if not pending:
            return m["version"], 0  # converged: no commit
        if max_files_per_step is not None:
            pending = pending[:max_files_per_step]
        pending_set = set(pending)
        carried = [f for f in m["files"] if f not in pending_set]
        current = self._read_base(spark, m, pending)
        rows = [filemeta.get(f, {}).get("rows") for f in pending]
        if all(r is not None for r in rows):
            dv_rows = (m.get("dv") or {}).get("rows", {})
            total = sum(rows) - sum(dv_rows.get(f, 0) for f in pending)
        else:
            total = current.count()
        n_files = max(1, -(-total // target_rows))
        # bounds from the WHOLE table (m["files"]) so z-buckets are
        # comparable across evolution steps, not per-slice; when any
        # file lacks recorded stats the fallback aggregate must ALSO
        # cover the whole table (ADVICE r12 — aggregating only the
        # pending slice would give each step different bounds,
        # silently degrading cross-step z-comparability)
        rewrite = self._cluster_for_rewrite(
            current, cols, n_files, m, m["files"],
            bounds_over=self.read(spark),
        )
        bloom = m.get("bloom_cols", [])
        if self._mapping_enabled(m):
            wdf, wstats, wbloom = self._for_write(
                self._carry_mapping(m), m["schema"],
                self._align_to_schema(rewrite, m["schema"]),
                stats_cols, bloom,
            )
        else:
            wdf, wstats, wbloom = rewrite, stats_cols, bloom
        files, stats, new_meta = self._write_fileset(wdf, wstats, wbloom)
        for f in files:
            new_meta.setdefault(f, {})["clustered"] = cols_phys
        new = {
            "version": m["version"] + 1,
            "files": carried + files,
            "deltas": [],
            "key_columns": m.get("key_columns"),
            "batch_ids": m["batch_ids"]
            + ([batch_id] if batch_id is not None else []),
            "stats": {
                **{f: m["stats"][f] for f in carried if f in m.get("stats", {})},
                **stats,
            },
            "filemeta": {
                **{f: filemeta[f] for f in carried if f in filemeta},
                **new_meta,
            },
            "bloom_cols": bloom,
            # content-preserving rewrite: the change feed reads through
            # it and blind appends rebase over it
            "reorg": True,
            **self._carry_meta(m),
            **self._carry_mapping(m),
            **self._carry_dv(m, carried),
        }
        if m.get("schema") is not None:
            new["schema"] = m["schema"]  # content-preserving: carry
        self._publish(new)
        return new["version"], len(pending)

    def _cluster_for_rewrite(
        self,
        current: DataFrame,
        cluster_by: Sequence,
        n_files: int,
        m: dict,
        touched: Sequence[str],
        bounds_over: Optional[DataFrame] = None,
    ) -> DataFrame:
        """The clustered-rewrite plan for :meth:`optimize`: Morton-
        interleave the k ``cluster_by`` columns (each scaled to the z
        domain from its data bounds) and range-partition on the
        result so every output file gets a narrow [min, max] envelope
        in EVERY clustered dimension — the ``OPTIMIZE .. ZORDER BY
        (c1, .., ck)`` shape; a single column degenerates to plain
        range clustering on the raw value (exact envelopes, no
        bucketing loss).  Bounds prefer the manifest's recorded stats
        (min of mins / max of maxes — metadata, no scan) and, on a
        merge-on-read table, fold the DELTA files' recorded stats in
        too: ``current`` is the resolved view, so delta rows outside
        the base range would otherwise bucket past the z domain
        (ADVICE r11 — ``zbucket`` additionally clamps, so even a
        legacy manifest can no longer wrap).  A table without full
        stats coverage folds a broadcast 1-row min/max aggregate into
        the plan instead (lazy — still no driver action); callers
        whose ``current`` is only a SLICE of the table (the evolution
        path) pass ``bounds_over`` so that fallback aggregates the
        FULL table, keeping z-buckets comparable across steps
        (ADVICE r12 — a per-slice fallback would silently diverge the
        bounds step by step).

        Bits per dimension shrink as k grows (``min(Z_BITS, 63 // k)``,
        applied to the bucketing AND the interleave together) so the z
        key never reaches the bigint sign bit — at k=8 each dimension
        gets 7 bits, a gradual envelope coarsening instead of a wrapped
        interleave (ADVICE r12)."""
        from pyspark.sql import functions as F

        from pypeline_spark.operators.multidim import Z_BITS, zbucket, zvalue_n

        cols = list(cluster_by)
        if not cols:
            raise ValueError("cluster_by needs at least one column")
        if len(cols) == 1:
            return (
                current.repartitionByRange(n_files, F.col(cols[0]))
                .sortWithinPartitions(cols[0])
            )
        stats = m.get("stats", {})
        # delta rows are part of the resolved view being rewritten, so
        # their recorded stats belong in the bounds alongside the bases
        stat_files = list(touched) + [
            n for fs in m.get("deltas", []) for n in fs
        ]

        def _manifest_bounds(col: str):
            los, his = [], []
            skey = self._stat_key(m, col)
            for f in stat_files:
                ent = stats.get(f, {}).get(skey)
                if not isinstance(ent, (list, tuple)) or len(ent) != 2:
                    return None
                los.append(ent[0])
                his.append(ent[1])
            return (min(los), max(his)) if los else None

        lo_his = [_manifest_bounds(c) for c in cols]
        names = [(f"__c{i}lo", f"__c{i}hi") for i in range(len(cols))]
        if all(b is not None for b in lo_his):
            bounds = current.sparkSession.range(1).select(
                *[
                    e
                    for (lo, hi), (nl, nh) in zip(lo_his, names)
                    for e in (F.lit(lo).alias(nl), F.lit(hi).alias(nh))
                ]
            )
        else:
            bounds = (bounds_over if bounds_over is not None else current).agg(
                *[
                    e
                    for c, (nl, nh) in zip(cols, names)
                    for e in (F.min(c).alias(nl), F.max(c).alias(nh))
                ]
            )
        bits = min(Z_BITS, 63 // len(cols))
        z = zvalue_n(
            [
                zbucket(F.col(c), F.col(nl), F.col(nh), bits=bits)
                for c, (nl, nh) in zip(cols, names)
            ],
            bits=bits,
        )
        drop_cols = [n for pair in names for n in pair]
        return (
            current.crossJoin(F.broadcast(bounds))
            .withColumn("__zopt", z)
            .drop(*drop_cols)
            .repartitionByRange(n_files, F.col("__zopt"))
            .sortWithinPartitions("__zopt")
            .drop("__zopt")
        )

    # -- retention ------------------------------------------------------------

    def vacuum(
        self,
        keep_versions: int = 1,
        retain_seconds: Optional[float] = None,
        dry_run: bool = False,
    ) -> int:
        """Drop data files referenced only by manifests older than the
        newest ``keep_versions``; returns files removed.  Readers of
        retained versions are unaffected (their files stay).

        ``retain_seconds`` adds AGE-based retention (the Delta
        ``delta.logRetentionDuration`` rule, complementing the version
        count): a version committed within the window is kept even
        when older than ``keep_versions`` — so "keep 7 days of time
        travel" holds regardless of commit rate.  The two retentions
        UNION (a version survives if either rule keeps it); legacy
        manifests without a commit stamp age out as epoch 0.

        Retention is computed against the TRUE tip (directory scan),
        and the pointer cache is rolled forward to it BEFORE any
        manifest file is removed: the pointer can legitimately lag
        several versions (a slow writer's refresh landing after newer
        commits, consecutive crashes between link and refresh), and
        removing the intermediate manifests while it lags would break
        ``_read_manifest``'s roll-forward chain — readers would serve
        a vacuumed version forever (ADVICE r13).  With the refresh
        first, a crash at ANY point leaves the pointer at (or past)
        every retained version.

        COMMIT-LOG SOUNDNESS: a retained version whose record is a
        log record replays from older records, so before any record
        below it is removed, its materialized manifest is checkpointed
        to a ``_ckpt.vN.json`` sidecar (atomic replace, idempotent —
        a crash between sidecar and removals just leaves extra
        checkpoints).  Every retained version therefore stays
        derivable with exactly the same removable set as the
        full-snapshot protocol had.

        ``dry_run=True`` (the Delta ``VACUUM .. DRY RUN`` shape):
        report how many data files WOULD be removed without removing
        anything — no pointer heal, no sidecar writes, no deletions."""
        current = max(
            self._read_manifest()["version"], self._max_version_on_disk()
        )
        if current > 0 and not dry_run:
            try:
                tip_rec = self._load_record(current)
            except ValueError:
                tip_rec = None
            tmp = f"{self._pointer}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "hint": True,
                        "version": current,
                        **({"record": tip_rec} if tip_rec else {}),
                    },
                    fh,
                )
            os.replace(tmp, self._pointer)
        keep_from = current - keep_versions + 1
        import time as _time

        age_floor = (
            None if retain_seconds is None
            else _time.time() - retain_seconds
        )
        log = self._scan_log()
        by_v = {v: (rec, mf) for v, rec, mf in log}
        protected = {
            v
            for v, rec, _mf in log
            if v >= keep_from
            or (
                age_floor is not None
                and float(rec.get("committed_at", 0.0)) >= age_floor
            )
        }
        if not protected and log:
            return 0  # defensive: never drop the whole log
        # checkpoint every protected log-record version whose parent
        # record is about to go (descending, so a cascade of
        # un-checkpointable versions extends protection downward)
        for v in sorted(by_v, reverse=True):
            if v not in protected:
                continue
            rec, mf = by_v[v]
            if "actions" not in rec:
                continue  # snapshot / legacy: self-contained
            if os.path.exists(self._ckpt_sidecar(v)):
                continue
            prev_v = v - 1
            if prev_v in protected or prev_v not in by_v:
                continue
            if mf is not None:
                if dry_run:
                    continue
                ck = self._ckpt_sidecar(v)
                if len(mf.get("files", ())) >= self.SIDECAR_MIN_FILES:
                    # the horizon checkpoint goes COLUMNAR exactly like
                    # a commit checkpoint (r17 #3): tiny JSON wrapper +
                    # parquet per-file state instead of an O(files)
                    # JSON blob per vacuum
                    core, side, present, typed = (
                        self._write_parquet_checkpoint(mf)
                    )
                    payload = {
                        "snapshot_core": core,
                        "sidecar": side,
                        "sidecar_keys": present,
                        "sidecar_typed": typed,
                    }
                else:
                    payload = mf
                tmpck = f"{ck}.{uuid.uuid4().hex}.tmp"
                with open(tmpck, "w") as fh:
                    json.dump(payload, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(tmpck, ck)
            else:
                # underivable boundary (should not happen): keep the
                # parent record rather than orphan the chain
                protected.add(prev_v)

        # delta files are as live as base files: a retained
        # merge-on-read version needs both to resolve — and so are
        # the CDC files of a predicate-DML commit (the change feed
        # reads them until the version ages out) and the deletion
        # vector files (every read of a retained dv'd version
        # anti-joins them)
        def _files_of(mf: dict) -> list:
            return (
                list(mf.get("files", []))
                + [n for fs in mf.get("deltas", []) for n in fs]
                + list(mf.get("cdc_files", []))
                + list((mf.get("dv") or {}).get("files", []))
            )

        live: set[str] = set()
        for v in protected:
            mf = by_v[v][1]
            if mf is not None:
                live.update(_files_of(mf))
        removed = 0
        reaped: set = set()
        for v, rec, mf in log:
            if v in protected:
                continue
            for data_file in _files_of(mf) if mf is not None else []:
                if data_file not in live and data_file not in reaped:
                    path = os.path.join(self.data_dir, data_file)
                    if os.path.exists(path):
                        if not dry_run:
                            os.remove(path)
                        reaped.add(data_file)
                        removed += 1
            if dry_run:
                continue
            os.remove(os.path.join(self.root, f"_manifest.v{v}.json"))
            stale_ck = self._ckpt_sidecar(v)
            if os.path.exists(stale_ck):
                try:
                    with open(stale_ck) as fh:
                        ckd = json.load(fh)
                    if ckd.get("sidecar"):
                        try:
                            os.remove(
                                os.path.join(self.root, ckd["sidecar"])
                            )
                        except FileNotFoundError:
                            pass
                except (OSError, ValueError):
                    pass  # a racing vacuum got it first
                try:
                    os.remove(stale_ck)
                except FileNotFoundError:
                    pass
            # a removed columnar checkpoint's parquet sidecar goes
            # with its record (uniquely named per publish attempt —
            # the record names exactly one)
            if rec.get("sidecar"):
                try:
                    os.remove(os.path.join(self.root, rec["sidecar"]))
                except FileNotFoundError:
                    pass
        return removed

    def _scan_log(self) -> list:
        """``(version, record, manifest)`` ascending for every version
        on disk — ONE sequential replay pass over the commit log
        (O(records) small parses + O(checkpoints) full parses), the
        shape vacuum and orphan GC consume.  ``manifest`` is None for
        a version that is no longer derivable (broken chain — should
        not occur; treated conservatively by callers)."""
        versions = []
        for f in os.listdir(self.root):
            if not (f.startswith("_manifest.v") and f.endswith(".json")):
                continue
            try:
                versions.append(int(f[len("_manifest.v"):-len(".json")]))
            except ValueError:
                continue
        out = []
        cur: Optional[dict] = None
        for v in sorted(versions):
            try:
                rec = self._load_record(v)
            except ValueError:
                continue  # a concurrent vacuum removed it mid-listing
            try:
                snap = self._record_snapshot(rec)
            except ValueError:
                # columnar checkpoint whose sidecar went with a racing
                # vacuum: the version is no longer derivable from this
                # record — conservative None (same class as a broken
                # chain); a ProtocolTooNew still propagates loudly
                out.append((v, rec, None))
                cur = None
                continue
            if snap is not None:
                cur = snap
            elif cur is not None and cur.get("version") == v - 1:
                cur = self._apply_actions(cur, rec["actions"])
            else:
                ck = self._ckpt_sidecar(v)
                if os.path.exists(ck):
                    try:
                        cur = self._load_ckpt_sidecar(ck)
                    except ValueError:
                        cur = None  # parquet half vacuumed mid-race
                else:
                    cur = None
            out.append((v, rec, cur))
        return out

    def gc_orphans(self, min_age_seconds: float = 3600.0) -> int:
        """Remove data files referenced by NO retained manifest version
        and leftover ``staging-*`` directories — the debris of aborted
        optimistic commits (a conflicting writer's fileset that never
        published) and crashes between fileset write and publish.
        :meth:`vacuum` cannot see these: it walks manifests, and
        orphans by definition appear in none.

        Files younger than ``min_age_seconds`` are KEPT: an in-flight
        commit's fileset is legitimately unreferenced until its
        publish lands, so the age floor is what makes GC safe to run
        concurrently with writers — the same retention-check mechanism
        as Delta VACUUM / Iceberg remove_orphan_files.  Staging
        directories are aged by the NEWEST mtime anywhere in their
        tree (a running write job keeps touching files, so a live
        commit can never look idle).  SAFETY CONTRACT: callers must
        choose ``min_age_seconds`` greater than the longest possible
        fileset-write→publish latency of any live writer — the window
        between a data file landing in ``data/`` and the manifest
        naming it is bounded by the publish (two filesystem micro-ops
        plus up to ``occ_max_retries`` metadata-only rebases, no data
        I/O), so the 1h default dominates it by orders of magnitude;
        a pathological pause (driver GC stall, operator suspend)
        longer than the floor is the one way to lose an in-flight
        commit, exactly as with Delta VACUUM's retention check.
        Returns the number of files removed.  Cost is one directory
        listing plus O(retained versions) manifest reads — no data
        I/O."""
        import time

        live: set[str] = set()
        live_sidecars: set[str] = set()
        # vacuum-horizon wrappers reference parquet sidecars too
        for f in os.listdir(self.root):
            if f.startswith("_ckpt.v") and f.endswith(".json"):
                try:
                    with open(os.path.join(self.root, f)) as fh:
                        side = json.load(fh).get("sidecar")
                except (OSError, ValueError):
                    continue
                if side:
                    live_sidecars.add(side)
        for _v, rec, mf in self._scan_log():
            if rec.get("sidecar"):
                live_sidecars.add(rec["sidecar"])
            if mf is None:
                continue
            live.update(mf.get("files", []))
            live.update(n for fs in mf.get("deltas", []) for n in fs)
            live.update(mf.get("cdc_files", []))
            live.update((mf.get("dv") or {}).get("files", []))
        now = time.time()
        removed = 0
        for f in os.listdir(self.data_dir):
            if f in live:
                continue
            p = os.path.join(self.data_dir, f)
            try:
                if now - os.stat(p).st_mtime < min_age_seconds:
                    continue
                os.remove(p)
                removed += 1
            except FileNotFoundError:
                pass  # a concurrent GC got it first
        for f in os.listdir(self.root):
            # orphaned columnar-checkpoint sidecars: a same-slot
            # publish loser that crashed before its own cleanup (the
            # winner's record never references it).  Same age floor —
            # an in-flight publish's sidecar legitimately precedes its
            # record link.
            if (
                f.startswith("_manifest.v")
                and ".ckpt-" in f
                and f.endswith(".parquet")
                and f not in live_sidecars
            ):
                p = os.path.join(self.root, f)
                try:
                    if now - os.stat(p).st_mtime >= min_age_seconds:
                        os.remove(p)
                        removed += 1
                except FileNotFoundError:
                    pass
                continue
            if not f.startswith("staging-"):
                continue
            p = os.path.join(self.root, f)
            try:
                # Age by the NEWEST mtime anywhere in the tree, not the
                # top-level dir: the directory's own mtime is set at
                # creation and a long-running Spark write job only adds
                # files as its tasks commit — a dir-mtime rule would
                # rmtree a live in-flight commit's staging output
                # mid-write (ADVICE r13).  Any write activity inside
                # the window keeps the whole tree alive.
                if now - self._tree_newest_mtime(p) >= min_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
            except FileNotFoundError:
                pass
        return removed

    @staticmethod
    def _tree_newest_mtime(path: str) -> float:
        """Newest mtime of the directory, its subdirectories, or any
        file within — entries vanishing mid-walk (a concurrent task
        commit renaming its temp file) are skipped, which only ever
        UNDER-ages the tree (conservative: the dir is kept)."""
        import time as _time

        try:
            newest = os.stat(path).st_mtime
        except FileNotFoundError:
            return _time.time()  # vanished: treat as brand new (kept)
        for dirpath, dirnames, filenames in os.walk(path):
            for n in dirnames + filenames:
                try:
                    newest = max(
                        newest,
                        os.stat(os.path.join(dirpath, n)).st_mtime,
                    )
                except FileNotFoundError:
                    continue
        return newest

    # -- rollback ---------------------------------------------------------------

    def restore(
        self,
        version: Optional[int] = None,
        batch_id: Optional[str] = None,
        timestamp=None,
    ) -> int:
        """``RESTORE TABLE .. TO VERSION`` (the Delta/Iceberg rollback
        shape): publish a NEW version whose content is exactly the
        retained ``version``'s — file list, outstanding deltas,
        key_columns, stats, filemeta and bloom property all taken from
        the restored manifest — as one atomic pointer swap.  Pure
        metadata: no data file is read, written or deleted, so
        restoring a 100 TB table costs one manifest write, history
        stays intact (the bad versions remain time-travelable until
        vacuum), and a crash mid-restore leaves the old pointer.

        The batch-id LEDGER is kept from the CURRENT version, not the
        restored one: a restore is an operational undo of CONTENT, and
        re-running an already-applied batch after a rollback must
        still be detected and skipped — otherwise the recovery replay
        double-applies everything committed since ``version``.  NDV
        sketch state is likewise kept from the CURRENT version: HLL is
        absorb-only, so the current sketch is a valid UPPER BOUND for
        the restored (subset) content — tracking continues unbroken
        and bloom sizing stays safe.  The exact ANALYZE profile is
        dropped (it describes content being rolled away; re-run
        analyze).  Restoring the current version is a no-op.  Raises
        if ``version`` was vacuumed.  ``timestamp`` (exclusive with
        ``version``) is ``RESTORE .. TO TIMESTAMP AS OF``: roll back
        to the latest commit <= ts."""
        version = self._resolve_version(version, timestamp)
        if version is None:
            raise ValueError("restore needs a version or a timestamp")
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        if version == m["version"]:
            return m["version"]  # restoring the tip: no-op
        old = self._manifest_at(version)
        new = {
            "version": m["version"] + 1,
            "files": old["files"],
            "deltas": old.get("deltas", []),
            # the rollback target, recorded so the change feed can
            # derive this commit's row-level events lazily (r15
            # directive 8): touched keys come from the rolled-away
            # range's own delta/CDC filesets, their restored state
            # from the restored snapshot — O(changed keys), metadata
            # at commit time
            "restore_of": version,
            "key_columns": old.get("key_columns"),
            # exactly-once survives the rollback: ledger from CURRENT
            "batch_ids": m["batch_ids"]
            + ([batch_id] if batch_id is not None else []),
            "stats": old.get("stats", {}),
            "filemeta": old.get("filemeta", {}),
            "bloom_cols": old.get("bloom_cols", []),
            # deletion vectors are part of the CONTENT being restored
            **self._carry_dv(old),
            # schema travels with the CONTENT being restored — and so
            # does the column-mapping state (ids belong to the schema);
            # the id counter stays MONOTONE across the rollback so an
            # id minted by a rolled-away commit is never re-minted
            **({"schema": old["schema"]} if old.get("schema") is not None else {}),
            **self._carry_mapping(old),
            **(
                {"max_column_id": max(
                    old.get("max_column_id", 0), m.get("max_column_id", 0)
                )}
                if "max_column_id" in old or "max_column_id" in m
                else {}
            ),
            **{k: m[k] for k in ("ndv", "ndv_cols") if k in m},
        }
        self._publish(new)
        return new["version"]

    def clone_to(
        self,
        dest_root: str,
        version: Optional[int] = None,
        timestamp=None,
        batch_id: Optional[str] = None,
    ) -> "ManifestTable":
        """SHALLOW CLONE (the Delta ``CREATE TABLE .. SHALLOW CLONE``
        shape): a NEW independent table at ``dest_root`` whose first
        version references the source's data files AT ``version`` /
        ``timestamp`` (default: current) without copying a byte —
        cloning a 100 TB table costs one manifest write plus a tiny
        sidecar recording the source's data roots for path resolution
        (:meth:`_path`).  Everything rides: outstanding deltas,
        deletion vectors, schema + column mapping, constraints, stats
        / blooms / filemeta, NDV sketch (an upper bound for the
        cloned subset).  The clone's history, batch-id ledger and OCC
        are its own; its commits write to its own ``data/``, so
        external references fade as rewrites (compact / OPTIMIZE /
        CoW) materialize local copies, and the clone's vacuum/GC only
        ever touch local paths — it can never reap source files.

        OPERATIONAL CONTRACT (same as Delta's): the source table's
        VACUUM does not know about clones — retain the cloned version
        on the source (version-count or age retention) for as long as
        the clone still references external files; a full
        ``optimize()`` on the clone localizes everything and severs
        the dependency.  Clones of clones chase the whole root chain.
        The clone starts life as version 1 with ``cloned_from``
        provenance recorded in its manifest."""
        src_m = self._manifest_at(self._resolve_version(version, timestamp))
        dest = ManifestTable(dest_root)
        if dest.version() != 0 or dest._max_version_on_disk() != 0:
            raise ValueError(
                f"clone_to destination {dest_root!r} is not an empty "
                "table root"
            )
        sidecar = os.path.join(dest_root, "_clone_roots.json")
        roots = [os.path.abspath(self.data_dir)] + list(
            self._external_roots
        )
        tmp = f"{sidecar}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"roots": roots}, fh)
        os.replace(tmp, sidecar)
        dest._external_roots = roots
        new = {
            "version": 1,
            "files": list(src_m.get("files", [])),
            "deltas": [list(fs) for fs in src_m.get("deltas", [])],
            "key_columns": src_m.get("key_columns"),
            # a clone is a NEW table: fresh exactly-once ledger
            "batch_ids": [batch_id] if batch_id is not None else [],
            "stats": dict(src_m.get("stats", {})),
            "filemeta": dict(src_m.get("filemeta", {})),
            "bloom_cols": list(src_m.get("bloom_cols", [])),
            "cloned_from": {
                "root": os.path.abspath(self.root),
                "version": src_m["version"],
            },
            **({"schema": src_m["schema"]}
               if src_m.get("schema") is not None else {}),
            **({"constraints": src_m["constraints"]}
               if src_m.get("constraints") else {}),
            **self._carry_mapping(src_m),
            **self._carry_meta(src_m),
            **self._carry_dv(src_m),
        }
        dest._publish(new)
        return dest

    # -- incremental change feed (CDF) -----------------------------------------

    def changes(
        self,
        spark: SparkSession,
        since_version: Optional[int] = None,
        until_version: Optional[int] = None,
        since_timestamp=None,
        until_timestamp=None,
    ) -> Optional[DataFrame]:
        """Incremental change feed over MERGE-ON-READ history — the
        Delta CDF / Iceberg incremental-read shape: the rows committed
        in versions ``(since_version, until_version]``, each tagged
        with its commit version (``_commit_version``) and a
        ``_change_type``: ``'insert'``/``'update'`` when the commit
        recorded typed CDC (``commit_delta(cdc=True)``), ``'delete'``
        for tombstones (``deletes=``; such rows carry the key columns,
        value columns null) AND for predicate-DML deletions
        (``delete_where`` — those carry the FULL pre-image row),
        ``'update_preimage'``/``'update_postimage'`` pairs for
        ``update_where`` (the Delta CDF vocabulary), and ``'upsert'``
        for blind appends — every pre-CDC legacy delta file AND the
        fresh files of a base-file ``commit_append`` (kind
        ``'append'``: the appended files are the exact change set, so
        the feed reads through it).  A delta commit's
        fileset IS its change set, so the feed reads ONLY the files
        those commits appended — O(changed rows), never a table scan
        or a snapshot diff — which is what lets a downstream consumer
        (a search index, an aggregate maintainer, a replica) follow a
        100 TB table by reading megabytes per sync.

        Exactness contract: every version in the range must be a
        DELTA commit (base untouched, one fileset appended), a
        METADATA-ONLY commit (ANALYZE, schema evolution — no files
        changed, contributes nothing), or a REORG commit — a rewrite
        compact / OPTIMIZE / clustering evolution stamped
        content-preserving, which the feed reads straight THROUGH
        (Delta CDF's rule: data reorganization emits no CDF rows), so
        scheduled maintenance never forces consumers to re-snapshot —
        or a predicate-DML commit (``delete_where``/``update_where``),
        whose own typed CDC fileset IS its change set.
        The delta filesets of versions before a reorg stay readable
        from their own manifests until vacuum — retention, not
        compaction, bounds how far back a cursor may lag.  A
        CONTENT-rewriting commit in the range (overwrite,
        copy-on-write merge) still raises — its new files mix
        rewritten-unchanged rows with changed ones, so row-level
        changes are not derivable from file-level metadata (the same
        reason Delta CDF requires CDC files for merge commits); those
        consumers re-seed from a snapshot.  A RESTORE, though, reads
        through: its events (deletes for keys the rollback removed,
        upserts re-asserting restored rows) are synthesized lazily
        from the rolled-away range's own filesets
        (:meth:`_restore_events`) whenever that range is itself
        derivable.

        Duplicate keys across commits are the feed's SEMANTICS (each
        tagged row is one upsert event); consumers wanting final
        states apply last-writer-wins on ``_commit_version`` — the
        same resolution ``read_resolved`` runs.

        Schema contract: on a schema-tracked table the feed emits
        rows under the TRACKED SCHEMA AS OF THE RANGE END — a range
        spanning a schema evolution (``evolve_schema``, or a widening
        delta) null-fills the new columns on pre-evolution rows and
        the output column set is deterministic (= the table's), never
        an artifact of which delta files happened to be in range.
        Untracked legacy tables keep the first-seen union-by-name
        shape.

        Returns ``None`` for an empty range on an empty table; an empty
        range on a populated table returns a zero-row frame whose
        schema derives from the files of the manifest AT the range end
        (not the possibly-newer current base — ADVICE r12).

        Timestamp bounds (each exclusive with its version twin):
        ``since_timestamp`` includes every commit stamped AT or AFTER
        ts (the Delta CDF ``startingTimestamp`` rule — resolved to the
        latest version committed strictly BEFORE ts, since the range
        is since-exclusive); ``until_timestamp`` ends the range at the
        latest commit <= ts (``endingTimestamp``)."""
        from pyspark.sql import functions as F

        if since_timestamp is not None:
            if since_version is not None:
                raise ValueError(
                    "pass since_version OR since_timestamp, not both"
                )
            ts = self._ts_epoch(since_timestamp)
            since_version = 0
            for f in os.listdir(self.root):
                if not (f.startswith("_manifest.v") and f.endswith(".json")):
                    continue
                try:
                    v = int(f[len("_manifest.v"):-len(".json")])
                except ValueError:
                    continue
                try:
                    ct = float(
                        self._load_record(v).get("committed_at", 0.0)
                    )
                except ValueError:
                    continue  # removed by a racing vacuum mid-listing
                if ct < ts and v > since_version:
                    since_version = v
        elif since_version is None:
            raise ValueError("changes needs since_version or since_timestamp")
        until_version = self._resolve_version(until_version, until_timestamp)
        mhi = self._manifest_at(until_version)
        hi = mhi["version"]
        if since_version < 0 or since_version > hi:
            raise ValueError(
                f"since_version {since_version} out of range [0, {hi}]"
            )

        def _align(df: DataFrame) -> DataFrame:
            """Project feed rows onto the tracked schema at the range
            end (columns the range's files never carried null-fill;
            present columns cast to the tracked type, so a range
            spanning a type widening emits the widened type even for
            pre-widening rows); legacy untracked tables pass through
            unchanged."""
            sch = mhi.get("schema")
            if sch is None:
                return df
            from pyspark.sql.types import StructType

            have = set(df.columns)
            cols = [
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in StructType.fromJson(sch).fields
            ]
            if mhi.get("row_tracking"):
                # row tracking (r17 #7): the stable row id recorded in
                # each CDC fileset rides the feed, so consumers pair
                # update pre/post images by identity, not business key
                # (pre-enable ranges null-fill it — same rule as any
                # evolved column)
                cols.append(
                    (
                        F.col("__row_id__")
                        if "__row_id__" in have
                        else F.lit(None)
                    ).cast("long").alias("__row_id__")
                )
            return df.select(*cols, "_commit_version", "_change_type")

        def _empty_feed() -> Optional[DataFrame]:
            files = list(mhi.get("files", [])) or [
                n for fs in mhi.get("deltas", []) for n in fs
            ]
            if not files:
                return None
            df = self._read_base(spark, mhi, files).limit(0)
            if self._CT in df.columns:
                df = df.drop(self._CT)
            return _align(
                df.withColumn(
                    "_commit_version", F.lit(0).cast("bigint")
                ).withColumn("_change_type", F.lit("upsert"))
            )
        tags: list[tuple] = []  # ("files", v, fileset) | ("restore", v, mv)
        prev = self._manifest_at(since_version) if since_version > 0 else {
            "files": [],
            "deltas": [],
        }
        for v in range(since_version + 1, hi + 1):
            mv = self._manifest_at(v)
            kind = self._commit_kind(prev, mv)
            if kind in ("metadata", "reorg"):
                # metadata-only and content-preserving reorg commits
                # contribute no row-level changes — read through them
                prev = mv
                continue
            if kind == "delta":
                tags.append(("files", v, mv.get("deltas", [])[-1]))
            elif kind == "append":
                # a base-file append's fresh files ARE its change set —
                # untyped blind-append events ('upsert'), like the
                # delta tier's legacy filesets
                tags.append(
                    ("files", v, mv["files"][len(prev.get("files", [])):])
                )
            elif kind == "dml":
                # a predicate DELETE/UPDATE records its exact row-level
                # change set as typed CDC files — the feed reads those
                # (full-row 'delete' pre-images; 'update_preimage' /
                # 'update_postimage' pairs), exactly Delta CDF's
                # DELETE/UPDATE emission
                tags.append(("files", v, mv.get("cdc_files", [])))
            elif kind == "restore":
                # a RESTORE's events are synthesized lazily from the
                # rolled-away range (r15 directive 8): deletes for
                # keys the rollback removed, upserts re-asserting the
                # restored state of every other touched key
                tags.append(("restore", v, mv))
            else:
                raise ValueError(
                    f"version {v} rewrote content (overwrite/merge): "
                    "row-level changes are not derivable from "
                    "file metadata across it — re-seed consumers from a "
                    "snapshot (maintenance compact/OPTIMIZE commits are "
                    "reorg-tagged and read through; predicate DML and "
                    "restore commits derive their own change sets)"
                )
            prev = mv
        if not tags:
            return _empty_feed()
        frames = []
        for tkind, v, payload in tags:
            if tkind == "restore":
                df = self._restore_events(spark, payload)
                if df is None:  # rolled back across no content change
                    continue
            else:
                if not payload:  # empty batch committed: nothing to read
                    continue
                df = self._to_logical(
                    spark.read.parquet(
                        *[self._path(f) for f in payload]
                    ),
                    mhi,  # mapping as of the range end covers every
                    # file: physical names are immutable per column id
                )
            frames.append(
                df.withColumn("_commit_version", F.lit(v).cast("bigint"))
            )
        if not frames:
            return _empty_feed()
        out = frames[0]
        for f in frames[1:]:
            # additive schema evolution across delta commits is a read
            # shape the table itself accepts (read_resolved) — the feed
            # must accept it too (ADVICE r12)
            out = out.unionByName(f, allowMissingColumns=True)
        if self._CT in out.columns:
            out = out.withColumn(
                "_change_type",
                F.coalesce(F.col(self._CT), F.lit("upsert")),
            ).drop(self._CT)
        else:
            out = out.withColumn("_change_type", F.lit("upsert"))
        return _align(out)

    def _restore_events(self, spark: SparkSession, mv: dict) -> Optional[DataFrame]:
        """Row-level events of a RESTORE commit (manifest ``mv``),
        derived LAZILY — nothing extra is written at restore time (the
        rollback stays one manifest publish):

        - touched keys = the keys appearing in the rolled-away range's
          own delta / DML-CDC filesets (``(restore_of, version)``) —
          exactly the keys whose state the rollback could have changed;
        - a touched key present in the restored snapshot emits an
          ``upsert`` re-asserting its restored row; one absent emits a
          tombstone-shaped ``delete`` (keys + marker, values null) —
          applying these events over the pre-restore state IS the
          restored state (last-writer-wins), the Delta "CDF of a
          RESTORE" shape.

        Cost: O(rolled-away changed rows) file reads + one key
        semi/anti join against the restored snapshot (prunable by key
        stats/blooms) — never a table diff.  Raises when the
        rolled-away range itself contains an underivable commit
        (overwrite / CoW merge / nested restore) or the table has no
        key columns; ``None`` when the range held no content change."""
        from pyspark.sql import functions as F

        r = mv["restore_of"]
        parent = mv["version"] - 1
        # key identity comes from the PRE-restore tip (the rolled-away
        # commits were keyed under it; the restored manifest may
        # predate key recording entirely), translated to the restored
        # version's logical names via column-mapping ids when a rename
        # was rolled away
        pm = self._manifest_at(parent) if parent >= 1 else {}
        keys = pm.get("key_columns") or mv.get("key_columns")
        if not keys:
            raise ValueError(
                f"version {mv['version']} restored a table without key "
                "columns: row-level changes are not derivable — re-seed "
                "consumers from a snapshot"
            )
        if self._mapping_enabled(pm) and self._mapping_enabled(mv):
            pid = {
                f["name"]: (f.get("metadata") or {}).get(self._CM_ID)
                for f in pm.get("schema", {"fields": []})["fields"]
            }
            by_id = {
                (f.get("metadata") or {}).get(self._CM_ID): f["name"]
                for f in mv.get("schema", {"fields": []})["fields"]
            }
            try:
                keys = [by_id[pid[k]] for k in keys]
            except KeyError:
                raise ValueError(
                    f"version {mv['version']}: a key column's mapping "
                    "id is absent from the restored schema — re-seed "
                    "consumers from a snapshot"
                ) from None
        filesets: list[list[str]] = []
        prev = self._manifest_at(r)
        for u in range(r + 1, parent + 1):
            mu = self._manifest_at(u)
            kind = self._commit_kind(prev, mu)
            if kind == "delta":
                filesets.append(mu.get("deltas", [])[-1])
            elif kind == "dml":
                filesets.append(mu.get("cdc_files", []))
            elif kind not in ("metadata", "reorg"):
                raise ValueError(
                    f"version {mv['version']} restored across an "
                    f"underivable {kind} commit at version {u}: re-seed "
                    "consumers from a snapshot"
                )
            prev = mu
        names = [f for fs in filesets for f in fs]
        if not names:
            return None  # only metadata/reorg rolled away: no row events
        touched = (
            self._to_logical(
                spark.read.parquet(
                    *[self._path(f) for f in names]
                ),
                mv,
            )
            .select(*keys)
            .distinct()
        )
        snap = self.read_resolved(spark, version=mv["version"])
        if snap is None:
            return touched.withColumn(self._CT, F.lit("delete"))
        ups = snap.join(touched, keys, "left_semi").withColumn(
            self._CT, F.lit("upsert")
        )
        dels = touched.join(
            snap.select(*keys), keys, "left_anti"
        ).withColumn(self._CT, F.lit("delete"))
        return ups.unionByName(dels, allowMissingColumns=True)

    # -- incremental NDV sketches (commit-time, mergeable) ---------------------

    def _update_ndv(
        self, df: DataFrame, ndv_cols: Sequence[str], prev: dict
    ) -> dict:
        """Fold this batch into the table's per-column NDV state: ONE
        aggregation pass over the BATCH (never the table) computes an
        HLL sketch per column (Spark's DataSketches
        ``hll_sketch_agg``), unions it with the stored sketch IN-PLAN
        (``hll_union``), and materializes both the merged sketch and
        its cardinality estimate — so the estimate in the manifest is
        always current and reading it later costs zero jobs.  Returns
        the new ``{col: {"sketch": b64, "estimate": n}}`` state.

        HLL union is associative/commutative and can only absorb —
        rows deleted or replaced by later commits keep their marks, so
        the estimate is an UPPER BOUND on the live distinct count
        (exactly the right direction for bloom sizing; run
        :meth:`analyze` for exact-current profiles).  An empty batch
        contributes a null sketch, which keeps the previous state."""
        import base64

        from pyspark.sql import functions as F

        agg = df.agg(
            *[F.hll_sketch_agg(c).alias(f"__s__{c}") for c in ndv_cols]
        )
        sel = []
        for c in ndv_cols:
            s = F.col(f"__s__{c}")
            p = prev.get(c, {}).get("sketch")
            if p is not None:
                pb = F.lit(base64.b64decode(p))
                s = F.when(s.isNull(), pb).otherwise(F.hll_union(pb, s))
            sel += [
                s.alias(f"__m__{c}"),
                F.when(s.isNull(), F.lit(0))
                .otherwise(F.hll_sketch_estimate(s))
                .cast("bigint")
                .alias(f"__e__{c}"),
            ]
        row = agg.select(*sel).first()  # one row of index metadata
        out = {}
        for c in ndv_cols:
            blob = row[f"__m__{c}"]
            if blob is None:
                out[c] = prev.get(c, {"sketch": None, "estimate": 0})
            else:
                out[c] = {
                    "sketch": base64.b64encode(bytes(blob)).decode(),
                    "estimate": int(row[f"__e__{c}"]),
                }
        return out

    def ndv_estimate(self, col: str) -> Optional[int]:
        """The maintained distinct-count estimate for ``col`` — pure
        metadata, zero jobs (the estimate was materialized at the last
        commit that updated the sketch).  ``None`` when the column is
        not NDV-tracked."""
        ent = self._read_manifest().get("ndv", {}).get(col)
        return None if ent is None else ent["estimate"]

    # -- table statistics (ANALYZE) --------------------------------------------

    def analyze(
        self,
        spark: SparkSession,
        cols: Sequence[str],
        batch_id: Optional[str] = None,
    ) -> int:
        """``ANALYZE TABLE .. COMPUTE STATISTICS FOR COLUMNS``: ONE
        distributed aggregation pass over the current snapshot
        (delta-resolved when merge-on-read commits are outstanding)
        computing a per-column table-level profile — approximate NDV
        (HLL sketch), exact null count, exact min/max — plus the exact
        row count, persisted in the manifest as ``colstats``.  The
        commit is METADATA-ONLY: no data file is written or rewritten,
        the file list is untouched, and the version bump goes through
        the same atomic swap / batch-id ledger as every other commit.

        Later content commits CARRY the profile forward (with its
        ``analyzed_version``/``analyzed_rows`` provenance, so consumers
        can detect and scale for staleness); ``commit_overwrite``
        DROPS it — replaced content invalidates the profile outright.

        Scale: the profile is what turns several downstream planning
        decisions from data passes into manifest reads —
        :meth:`suggest_bloom_bits` sizes a runtime bloom filter from
        the persisted NDV (the metadata-fed alternative to
        ``keyset_bloom``'s in-plan sizing aggregate), and the exact
        null/min/max feed the same pruning decisions engine catalogs
        (Delta/Iceberg column stats, Spark CBO) make.  Cost is one
        map-side-combined aggregate over the table per ANALYZE — the
        driver handles a single row of numbers."""
        from pyspark.sql import functions as F

        cols = list(cols)
        if not cols:
            raise ValueError("analyze needs at least one column")
        m = self._read_manifest()
        if batch_id is not None and batch_id in m["batch_ids"]:
            return m["version"]
        current = (
            self.read_resolved(spark) if m.get("deltas") else self.read(spark)
        )
        if current is None:
            raise ValueError("nothing to analyze: table has no data")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.approx_count_distinct(c).alias(f"__ndv__{c}"),
                F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nulls__{c}"),
                F.min(c).alias(f"__min__{c}"),
                F.max(c).alias(f"__max__{c}"),
            ]
        row = current.agg(*aggs).first()  # ONE row of metadata

        def _json_safe(v):
            return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

        profile = {
            c: {
                "ndv": int(row[f"__ndv__{c}"]),
                "nulls": int(row[f"__nulls__{c}"] or 0),
                "min": _json_safe(row[f"__min__{c}"]),
                "max": _json_safe(row[f"__max__{c}"]),
            }
            for c in cols
        }

        def build(mm: dict) -> Optional[dict]:
            if batch_id is not None and batch_id in mm["batch_ids"]:
                return None
            new = {
                **mm,
                "version": mm["version"] + 1,
                "batch_ids": mm["batch_ids"]
                + ([batch_id] if batch_id is not None else []),
                "colstats": {
                    "columns": profile,
                    "row_count": int(row["__rows"]),
                    # provenance pins the snapshot the profile DESCRIBES
                    # (the version analyzed, not the rebased tip)
                    "analyzed_version": m["version"],
                    "analyzed_rows": int(row["__rows"]),
                },
            }
            # {**mm} must not inherit a reorg TIP's tag: this commit
            # is metadata-only, not a rewrite declaration
            new.pop("reorg", None)
            new.pop("dml", None)
            new.pop("cdc_files", None)
            new.pop("restore_of", None)
            return new

        # the profile describes content as-of m: rebasable over
        # metadata-only commits and content-preserving reorgs (both
        # leave that content intact) — a concurrent content commit
        # would silently stale it, so it aborts (re-run analyze)
        return self._commit_retrying(
            m, build, frozenset({"metadata", "reorg"}), "analyze"
        )

    # -- metadata-fed join planning ---------------------------------------------

    def live_bytes(self) -> Optional[int]:
        """Total bytes of every live file (base + outstanding deltas)
        from the manifest's ``filemeta`` — pure metadata, zero
        filesystem calls.  ``None`` when any live file predates byte
        recording (legacy manifests)."""
        m = self._read_manifest()
        fm = m.get("filemeta", {})
        total = 0
        for f in list(m.get("files", [])) + [
            n for fs in m.get("deltas", []) for n in fs
        ]:
            b = fm.get(f, {}).get("bytes")
            if b is None:
                return None
            total += b
        return total

    def estimated_resolved_bytes(self) -> Optional[int]:
        """Estimated byte size of the RESOLVED view — metadata only.
        Raw live bytes, scaled down by (estimated resolved rows / raw
        rows) on a merge-on-read table whose key NDV is tracked: the
        resolved cardinality IS the distinct key count (last writer
        wins per key), so a table whose deltas mostly re-upsert the
        same keys is far smaller resolved than raw.  Falls back to raw
        bytes (a safe OVERestimate for broadcast decisions) when no
        sketch is available; ``None`` when bytes are unrecorded."""
        m = self._read_manifest()
        raw = self.live_bytes()
        if raw is None:
            return None
        dv = m.get("dv")
        if dv:
            # deletion vectors suppress rows the raw bytes still count:
            # scale down by the metadata-known live fraction (exact row
            # arithmetic, no estimate involved)
            fm = m.get("filemeta", {})
            rows = [fm.get(f, {}).get("rows") for f in m.get("files", [])]
            if all(r is not None for r in rows) and sum(rows) > 0:
                total = sum(rows)
                live = total - sum(dv["rows"].values())
                raw = -(-raw * max(live, 0) // total)
        keys = m.get("key_columns") or []
        if not m.get("deltas") or not keys:
            return raw
        ndv = m.get("ndv", {}).get(keys[0])
        if ndv is None:
            return raw
        fm = m.get("filemeta", {})
        rows = 0
        for f in list(m.get("files", [])) + [
            n for fs in m.get("deltas", []) for n in fs
        ]:
            r = fm.get(f, {}).get("rows")
            if r is None:
                return raw
            rows += r
        if rows == 0:
            return raw
        resolved_rows = min(ndv["estimate"], rows)
        return -(-raw * resolved_rows // rows)  # ceil scale-down

    def suggest_join_strategy(
        self, threshold_bytes: int = 10 * 1024 * 1024
    ) -> str:
        """``'broadcast'`` when the estimated resolved size fits under
        ``threshold_bytes`` (pass the session's
        ``spark.sql.autoBroadcastJoinThreshold`` for parity with the
        planner), else ``'shuffle'`` — the metadata-driven planning
        the persisted NDV sketches and filemeta exist for, mirroring
        :meth:`suggest_bloom_bits`.  Unknown size (legacy manifest)
        conservatively answers 'shuffle'.

        Scale: Catalyst sizes a plain parquet relation by RAW file
        bytes, so a merge-on-read dimension whose deltas re-upsert the
        same keys looks too big to broadcast even when its resolved
        form fits — this estimate restores the broadcast, turning a
        100 TB-fact × dimension join from a full shuffle into a
        map-side join."""
        est = self.estimated_resolved_bytes()
        if est is None:
            return "shuffle"
        return "broadcast" if est <= threshold_bytes else "shuffle"

    def read_resolved_hinted(
        self,
        spark: SparkSession,
        threshold_bytes: int = 10 * 1024 * 1024,
        version: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """``read_resolved`` wrapped in a ``broadcast()`` hint when the
        metadata advisor says the resolved view fits — the dimension-
        side read for joins against big fact tables."""
        from pyspark.sql import functions as F

        df = self.read_resolved(spark, version=version)
        if df is None:
            return None
        if self.suggest_join_strategy(threshold_bytes) == "broadcast":
            return F.broadcast(df)
        return df

    def table_properties(self) -> dict:
        """The consumer-owned ``properties`` dict of the current
        version (see :meth:`commit_overwrite`); empty when unset."""
        return dict(self._read_manifest().get("properties", {}))

    def column_stats(self, col: Optional[str] = None) -> Optional[dict]:
        """The persisted ANALYZE profile (or one column's slice of it);
        ``None`` when the table was never analyzed or the profile was
        invalidated by an overwrite."""
        cs = self._read_manifest().get("colstats")
        if cs is None or col is None:
            return cs
        return cs["columns"].get(col)

    def suggest_bloom_bits(self, col: str) -> Optional[int]:
        """Runtime-bloom bitset size for ``col`` from persisted
        metadata — ZERO data passes (pass the result as
        ``keyset_bloom(dim, col, num_bits=...)`` to skip its in-plan
        sizing aggregate).  Mirrors ``runtime_filter._auto_bits``
        arithmetic exactly (BITS_PER_KEY per key, whole words, clamped
        to [BLOOM_BITS, MAX_BLOOM_BITS]).

        NDV source, best first: (1) the incremental sketch estimate
        (``ndv_cols`` tracking — refreshed at every commit, never
        stale); (2) the last ANALYZE profile, scaled up proportionally
        when the table has grown since (current filemeta row count vs
        ``analyzed_rows``) — an overestimate only ever costs bitset
        bytes, never false positives above the design rate.  ``None``
        when the column is neither tracked nor analyzed (callers fall
        back to in-plan sizing)."""
        from pypeline_spark.operators.runtime_filter import (
            BITS_PER_KEY,
            BLOOM_BITS,
            MAX_BLOOM_BITS,
        )

        m = self._read_manifest()
        sketch = m.get("ndv", {}).get(col)
        if sketch is not None:
            ndv = sketch["estimate"]
        else:
            cs = m.get("colstats")
            if cs is None or col not in cs.get("columns", {}):
                return None
            ndv = cs["columns"][col]["ndv"]
            analyzed_rows = cs.get("analyzed_rows") or 0
            filemeta = m.get("filemeta", {})
            rows_now = sum(
                fm.get("rows") or 0
                for f in m.get("files", [])
                for fm in (filemeta.get(f, {}),)
            )
            for fs in m.get("deltas", []):
                rows_now += sum(
                    filemeta.get(f, {}).get("rows") or 0 for f in fs
                )
            if analyzed_rows and rows_now > analyzed_rows:
                ndv = -(-ndv * rows_now // analyzed_rows)  # ceil scale-up
        raw = -(-ndv * BITS_PER_KEY // 64) * 64
        return max(BLOOM_BITS, min(MAX_BLOOM_BITS, raw))
