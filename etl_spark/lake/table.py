"""LakeTable — bucket-partitioned parquet table with atomic snapshot commits.

The execution container has no Iceberg/Delta runtime jars, so this module
implements the same contract those formats provide, scoped to what the
engine needs (and structured so a real Iceberg catalog could be swapped in
behind the same API):

  * **Snapshot isolation + atomic commit.** A version manifest lists every
    data file per bucket; a pointer file is swapped with ``os.replace``
    (atomic on POSIX). This mirrors both Iceberg's snapshot pointer and the
    reference's atomic-at-Close GCS object commit
    (/root/reference/storage/rowwriter.go:83-87,142-171 — "the entire
    object becomes available atomically").
  * **Commit manifest / idempotence.** Each commit records its batch_id and
    row counts inside the manifest (single atomic swap ⇒ data + commit-log
    + metrics are crash-consistent). The reference's analog is the
    row-count object metadata written at Close
    (/root/reference/storage/rowwriter.go:157-170).
  * **Key bucketing.** Rows are hash-bucketed on ``conv_id``
    (``pmod(xxhash64(conv_id), n_buckets)``) so a MERGE only rewrites
    touched buckets (bounded write amplification at 10^10-event scale) and
    all turns of one conversation co-locate. Iceberg analog:
    ``bucket(N, conv_id)`` partition spec.
  * **Schema evolution.** The manifest stores the current user schema plus
    one schema era per historical write; readers align every file group to
    the current schema (add-null for new columns, cast for widenings),
    mirroring the reference's update-schema workflow
    (/root/reference/cmd/update-schema/update.go:112-161).
  * **Tombstones (merge-on-read deletes).** Deletes are persisted as
    tombstone rows so a late (stale) re-insert with an older timestamp
    cannot resurrect a deleted row under replay; reads filter
    ``deleted = false``. ``expire_tombstones`` compacts them away once a
    watermark has passed.

Scale notes (100 TB / 1000 executors): the manifest holds file *lists*, not
data — at n_buckets=4096 and one commit per micro-batch it stays in the
driver's working set like Iceberg's manifest lists; data reads/writes are
pure parquet DataFrame scans that Catalyst prunes by bucket directory. No
driver-side row iteration anywhere.

Ledger growth: the idempotence ledger (``commits`` + ``segments``) adds one
small record per applied batch/segment. Per-file input entries are pruned
once their segment completes (see commit_version) and compaction collapses
file lists; the batch/segment history itself is SNAPSHOTTED the way
Iceberg splits manifest lists: once the inline tail exceeds
``ledger_inline_max`` entries, _commit_version_once folds it into one
immutable cumulative ledger file (``Manifest.ledger`` pointer) and the
inline maps restart empty. The manifest rewritten on every commit is
therefore O(live files + tail) regardless of uptime — at 10^10 events
(~10^5 segments) the per-commit write stays ~100 KB while the spilled
ledger (a few MB) is rewritten once per ~10^3 commits and read through a
process-wide cache. Exactly-once membership always consults tail ∪
snapshot (``full_commits``/``full_segments``).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_spark.schema import KEY_COLS, SYSTEM_COLS, evolve_schema, schema_from_json

MANIFEST_DIR = "_manifests"
# style marker for segment-ledger values that are CERTIFIED listing
# fingerprints (vs legacy committing-batch-id entries) — storage-level
# only, stripped by committed_segments(); see listing_segments()
_SEG_LISTING_STYLE = "l:"
CURRENT_PTR = "CURRENT"
_REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")

# storage-level system columns appended to the (evolvable) user schema
_SYSTEM_FIELDS = [
    T.StructField("op_seq", T.LongType(), True),
    T.StructField("deleted", T.BooleanType(), True),
    T.StructField("batch_id", T.StringType(), True),
    T.StructField("source_file", T.StringType(), True),
    T.StructField("ingest_ts", T.TimestampType(), True),
]


_SENTINEL = object()  # "argument not passed" marker for schema-DDL commits

# Ledger-snapshot file cache: abs path -> {"commits": {...}, "segments":
# {...}}. Ledger files are immutable once written (content-complete at
# spill time, new spills get new names), so caching by path is safe across
# LakeTable handles; a tiny FIFO bound covers the multi-table case.
_LEDGER_CACHE: dict[str, dict[str, dict]] = {}
_LEDGER_CACHE_MAX = 16


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot version first (optimistic
    concurrency, Iceberg-style): the caller should re-read the table state
    and retry its commit against the new current version."""


def _retry_on_conflict(fn):
    """Maintenance-op wrapper: a read-modify-write rewrite whose commit
    could not be REBASED (the concurrent writer touched the same buckets)
    is simply recomputed — every wrapped method re-reads the current
    manifest on entry, so re-invoking IS the recompute. Bounded: sustained
    conflict pressure (a stream outrunning maintenance for
    ``conflict_retries+1`` consecutive rewrites) surfaces the conflict to
    the operator instead of spinning. Attempt-local files written by a
    losing attempt stay invisible orphans (expire_snapshots collects
    them). Callers override via ``conflict_retries=`` kwarg."""
    import functools

    @functools.wraps(fn)
    def wrap(self, *a, **k):
        retries = k.pop("conflict_retries", 2)
        for i in range(retries + 1):
            try:
                return fn(self, *a, **k)
            except CommitConflictError:
                if i == retries:
                    raise
                time.sleep(0.01 * (i + 1))
    return wrap


def _iso_to_utc(s: str) -> tuple[int, str]:
    """ISO-8601 timestamp (offset-aware, or naive = UTC per the engine's
    pinned-UTC session) → (µs since epoch, canonical naive-UTC string for
    Spark casts). One conversion used by BOTH the manifest-stats pruning
    bound and the row filter — interpreting the same input differently on
    the two sides would silently prune files whose rows pass the filter."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    d = d.astimezone(_dt.timezone.utc)
    return int(d.timestamp() * 1_000_000), d.replace(tzinfo=None).isoformat(sep=" ")


def _atomic_write(path: str, data: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _atomic_create_exclusive(path: str, data: str) -> None:
    """Like _atomic_write but FAILS if ``path`` already exists — the
    compare-and-swap primitive behind optimistic-concurrency commits.
    hard-link(2) of a fully-fsynced temp file is atomic and never
    overwrites, unlike rename(2)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} already exists: either a "
            "concurrent writer just committed it (re-read the table and "
            "retry), or a crashed writer left it orphaned before the "
            "pointer swap (no other writer running? expire_snapshots() "
            "removes orphans)"
        ) from None
    finally:
        os.unlink(tmp)


@dataclass
class Manifest:
    version: int
    parent: int | None
    schema_json: str                      # current user schema
    schemas: dict[str, str]               # schema_id -> user schema json (eras)
    current_schema_id: str
    n_buckets: int
    files: dict[str, list[dict[str, Any]]]  # bucket -> [{path, schema_id, rows}]
    commits: dict[str, dict[str, Any]]    # batch_id -> commit record
    created_unix: float
    # segment (binlog unit, e.g. "batch=00042") -> batch_id that applied it.
    # A segment appears here only once COMPLETELY applied. After checkpoint
    # loss Spark may re-deliver the same segments grouped differently into
    # micro-batches; segment-level tracking still recognizes them as applied.
    segments: dict[str, str] = None  # type: ignore[assignment]
    # segment-relative input FILE ("batch=00042/part-...parquet") -> batch_id,
    # for segments only PARTIALLY applied so far: a micro-batch trigger may
    # split one segment's files across triggers (maxFilesPerTrigger), so
    # idempotence must be per file. Entries are pruned the moment their
    # segment completes (moves to ``segments``), so this map is bounded by
    # in-flight partial segments, not by feed history.
    applied_inputs: dict[str, str] = None  # type: ignore[assignment]
    # Bloom seen-set sidecar: {"path": rel, "m_bits": int, "k": int} — a
    # summary of every key ever written, enabling the append-only MERGE
    # fast path (see etl_spark/cdc/bloom.py).
    bloom: dict[str, Any] | None = None
    # event-time high watermark (max event ts ever applied, µs since epoch,
    # wall-clock semantics). Drives the OPTIONAL late-event drop policy and
    # tombstone expiry safety — correctness never depends on it (LWW does
    # that); it only bounds how late an event may arrive and still apply.
    watermark_us: int | None = None
    # merge-on-read marker: True when delta files with potentially
    # OVERLAPPING keys have been appended (MOR commits); readers must apply
    # the LWW reduction. Cleared when every bucket is rewritten reduced
    # (resolve_deltas / full compaction). COW commits and Bloom-proven
    # pure-insert appends keep key uniqueness and never set it.
    needs_reduce: bool = False
    # declarative row expectations (Delta CHECK-constraint analog):
    # name -> {"expr": <SQL boolean over user columns>, "policy":
    # "fail" | "drop" | "warn"}. Enforced by the ingest path
    # (cdc/apply.py) on upsert payloads; SQL semantics — NULL passes.
    constraints: dict[str, dict[str, str]] | None = None
    # column renames without rewrite (Iceberg field-ID analog, realized
    # as a cumulative HISTORIC name -> CURRENT name map): files written
    # under old eras keep their old column names; the era-aligned scan
    # resolves a missing current name through this map. Key columns,
    # ts, and system columns are never renamable (merge keys + stats).
    renames: dict[str, str] | None = None
    # True when this snapshot's diff vs its parent is KEY-NEUTRAL: a pure
    # file-layout rewrite (compaction, z-order/time-slice clustering,
    # delta resolve, rebucket) that changes neither key state nor schema.
    # The Iceberg 'replace'-snapshot marker: changelog readers skip over
    # such commits instead of diffing rewritten buckets row by row.
    key_neutral: bool = False
    # columns summarized into per-data-file value-bloom sidecars at write
    # time (Iceberg puffin analog) — equality lookups on these NON-key
    # columns skip files whose bloom excludes the probe value. Declared via
    # set_skip_blooms(); files written earlier have no sidecar and are
    # simply never pruned.
    skip_blooms: list[str] | None = None
    # ledger snapshot pointer (the Iceberg manifest-list split, applied to
    # the idempotence ledger): {"path": rel, "commits": n, "segments": n}.
    # When the INLINE commits/segments maps exceed the spill threshold,
    # they are folded into one immutable cumulative JSON file under
    # _manifests/ and the inline maps restart empty — so the manifest
    # rewritten on EVERY commit stays O(files + tail), not O(history),
    # under unbounded 10^10-event uptime. Ledger files are written before
    # the pointer swap (like the bloom sidecar) and read lazily through a
    # cache; lookups (is_committed / committed_segments) merge tail ∪
    # ledger, so exactly-once semantics see full history.
    ledger: dict[str, Any] | None = None

    def __post_init__(self):
        if self.segments is None:
            self.segments = {}
        if self.applied_inputs is None:
            self.applied_inputs = {}

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        d.setdefault("segments", {})
        d.setdefault("applied_inputs", {})
        d.setdefault("bloom", None)
        d.setdefault("watermark_us", None)
        d.setdefault("needs_reduce", False)
        d.setdefault("constraints", None)
        d.setdefault("renames", None)
        d.setdefault("key_neutral", False)
        d.setdefault("skip_blooms", None)
        d.setdefault("ledger", None)
        return Manifest(**d)


class LakeTable:
    """A versioned, bucket-partitioned parquet table rooted at ``path``.

    ``ref`` selects which snapshot pointer this handle reads and commits
    through: the default is the published table (``CURRENT``); a branch
    view (from :meth:`branch`) points at ``BRANCH-<name>`` instead —
    every read/merge/commit method works unchanged against the branch
    head while main readers keep seeing only published snapshots.
    """

    def __init__(self, path: str, ref: str = CURRENT_PTR):
        self.path = path
        self._ref = ref
        # inline idempotence-ledger tail size before commits/segments spill
        # to a cumulative ledger-snapshot file (see Manifest.ledger). 1024
        # keeps the per-commit manifest rewrite a few hundred KB while a
        # spill — one O(history) file write — happens once per ~1k commits.
        self.ledger_inline_max: int = 1024
        # value-bloom sidecar byte cache: sidecars are immutable once
        # committed (uuid-unique names), so repeated lookups on one handle
        # reuse the bytes instead of re-opening every candidate file
        self._vb_cache: dict[str, bytes] = {}

    # ---------------------------------------------------------------- setup
    @classmethod
    def create(cls, path: str, schema: T.StructType, n_buckets: int = 16) -> "LakeTable":
        from etl_spark.cdc.bloom import BLOOM_ALGO, DEFAULT_K, DEFAULT_M_BITS, BloomFilter

        os.makedirs(os.path.join(path, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        empty = BloomFilter(DEFAULT_M_BITS, DEFAULT_K)
        bloom_rel = os.path.join(MANIFEST_DIR, "bloom-v00000000.bin")
        with open(os.path.join(path, bloom_rel), "wb") as f:
            f.write(empty.to_bytes())
        m = Manifest(
            version=0,
            parent=None,
            schema_json=schema.json(),
            schemas={"0": schema.json()},
            current_schema_id="0",
            n_buckets=n_buckets,
            files={},
            commits={},
            created_unix=time.time(),
            bloom={
                "path": bloom_rel,
                "m_bits": DEFAULT_M_BITS,
                "k": DEFAULT_K,
                "algo": BLOOM_ALGO,
            },
        )
        t = cls(path)
        try:
            t._write_manifest(m)
        except CommitConflictError:
            raise FileExistsError(
                f"table already exists at {path} (use create_if_not_exists)"
            ) from None
        return t

    @classmethod
    def create_if_not_exists(
        cls, path: str, schema: T.StructType, n_buckets: int = 16
    ) -> "LakeTable":
        if os.path.exists(os.path.join(path, MANIFEST_DIR, CURRENT_PTR)):
            return cls(path)
        return cls.create(path, schema, n_buckets)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, MANIFEST_DIR, CURRENT_PTR))

    # ------------------------------------------------------------- manifest
    def manifest(self, version: int | None = None) -> Manifest:
        """Current manifest, or a historical one for time-travel reads
        (copy-on-write means every retained version's files still exist)."""
        if version is None:
            ptr = os.path.join(self.path, MANIFEST_DIR, self._ref)
            with open(ptr) as f:
                name = f.read().strip()
        else:
            name = f"v{version:08d}.json"
        try:
            with open(os.path.join(self.path, MANIFEST_DIR, name)) as f:
                return Manifest.from_json(f.read())
        except FileNotFoundError:
            if version is None:
                raise
            raise ValueError(
                f"snapshot v{version} is not retained (expired or never "
                f"existed); retained versions: {self.versions()}"
            ) from None

    def versions(self) -> list[int]:
        """All retained COMMITTED snapshot versions, ascending (Iceberg:
        snapshot log). A manifest file NEWER than the current pointer is an
        orphan from a writer that crashed between the exclusive manifest
        create and the pointer swap — it was never committed, so it is not
        listed (and not time-travel-readable); expire_snapshots removes it."""
        cur = self.manifest().version
        out = []
        for fn in os.listdir(os.path.join(self.path, MANIFEST_DIR)):
            if fn.startswith("v") and fn.endswith(".json"):
                v = int(fn[1:-5])
                if v <= cur:
                    out.append(v)
        return sorted(out)

    def version_as_of(self, ts: str | float) -> int:
        """Timestamp time-travel (Iceberg ``TIMESTAMP AS OF``): the snapshot
        that was CURRENT at ``ts`` — the newest retained version whose
        commit time (``created_unix``, stamped inside the manifest before
        the atomic pointer swap, so it is crash-consistent with visibility)
        is <= ts. ISO-8601 strings are interpreted like every other ts in
        the engine (naive = UTC). Raises if ts predates the oldest retained
        snapshot — answering with a LATER state than existed at ts would be
        silently wrong, the same contract as the expired-version error."""
        cutoff = float(ts) if isinstance(ts, (int, float)) else _iso_to_utc(ts)[0] / 1e6
        best = None
        for v in self.versions():
            if self.manifest(v).created_unix <= cutoff:
                best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot existed at {ts!r}; oldest retained "
                f"version is {self.versions()[:1]}"
            )
        return best

    # ------------------------------------------------------ branches / tags
    # Branch = a named snapshot pointer (file ``BRANCH-<name>`` beside
    # CURRENT). Staged commits on a branch create ordinary v{N+1}… manifests
    # in the SAME linear version sequence — the exclusive manifest create is
    # the shared OCC gate — but only the branch pointer advances, so main
    # readers (CURRENT) never see them. Publishing fast-forwards CURRENT to
    # the branch head in one atomic pointer write. This is the Iceberg
    # write-audit-publish (WAP) pattern: stage → audit the branch view →
    # publish or drop. Because staged commits RESERVE version numbers,
    # a main-side commit during an audit window conflicts (and vice versa)
    # instead of silently diverging — publish is therefore race-free.
    # Tag = an immutable named version (``TAG-<name>``) that
    # expire_snapshots always retains — the Iceberg tag / named-snapshot
    # analog for reproducible time-travel reads.

    def _require_published_view(self, op: str) -> None:
        if self._ref != CURRENT_PTR:
            raise ValueError(
                f"{op} must run on the published table handle, not a "
                f"branch view ({self._ref})"
            )

    @staticmethod
    def _check_ref_name(name: str) -> None:
        if not _REF_NAME.match(name):
            raise ValueError(
                f"ref name must match [A-Za-z0-9][A-Za-z0-9._-]*: {name!r}"
            )

    def _ref_file(self, ref: str) -> str:
        return os.path.join(self.path, MANIFEST_DIR, ref)

    @property
    def ref(self) -> str:
        """The snapshot pointer this handle resolves ('CURRENT' or a
        branch pointer 'BRANCH-<name>')."""
        return self._ref

    def create_branch(self, name: str, at_version: int | None = None) -> "LakeTable":
        """Create branch ``name`` at the handle's current (or a retained)
        snapshot and return the branch view. Exclusive create: an existing
        branch of the same name is an error, never silently reused."""
        self._check_ref_name(name)
        head = self.manifest(at_version)
        try:
            _atomic_create_exclusive(
                self._ref_file(f"BRANCH-{name}"), f"v{head.version:08d}.json"
            )
        except CommitConflictError:
            raise FileExistsError(f"branch already exists: {name}") from None
        return LakeTable(self.path, ref=f"BRANCH-{name}")

    def branch(self, name: str) -> "LakeTable":
        """Handle onto an existing branch: reads resolve the branch head,
        commits advance the branch pointer."""
        self._check_ref_name(name)
        if not os.path.exists(self._ref_file(f"BRANCH-{name}")):
            raise ValueError(f"no such branch: {name}")
        return LakeTable(self.path, ref=f"BRANCH-{name}")

    def list_branches(self) -> dict[str, int]:
        """branch name -> head version."""
        out = {}
        for fn in os.listdir(os.path.join(self.path, MANIFEST_DIR)):
            if fn.startswith("BRANCH-"):
                with open(self._ref_file(fn)) as f:
                    out[fn[len("BRANCH-"):]] = int(f.read().strip()[1:-5])
        return out

    def drop_branch(self, name: str) -> None:
        """Abandon a branch. Its staged (never-published) manifests and
        data files become unreferenced and are collected by the next
        expire_snapshots()."""
        self._check_ref_name(name)
        try:
            os.remove(self._ref_file(f"BRANCH-{name}"))
        except FileNotFoundError:
            raise ValueError(f"no such branch: {name}") from None

    def publish_branch(self, name: str) -> Manifest:
        """Atomically fast-forward the published table (CURRENT) to the
        branch head and drop the branch — the WAP 'publish' step. All
        staged snapshots become visible in one pointer write; their
        commit/segment ledgers, bloom sidecar, and watermark publish with
        them (they live IN the head manifest). Requires the published
        version to be an ancestor of the branch head (always true unless
        the branch staged nothing, or CURRENT was moved by an expire/
        repair while the branch was open)."""
        self._require_published_view("publish_branch")
        head = self.branch(name).manifest()
        cur = LakeTable(self.path).manifest()  # the published view
        if head.version == cur.version:
            self.drop_branch(name)  # nothing staged
            return cur
        v = head
        while v.parent is not None and v.version > cur.version + 1:
            v = self.manifest(v.parent)
        if v.parent != cur.version:
            raise CommitConflictError(
                f"branch {name} (head v{head.version}) does not descend "
                f"from the published v{cur.version} — cannot fast-forward"
            )
        _atomic_write(self._ref_file(CURRENT_PTR), f"v{head.version:08d}.json")
        try:
            os.remove(self._ref_file(f"BRANCH-{name}"))
        except FileNotFoundError:
            pass  # published; a dangling ref equal to CURRENT is harmless
        return head

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Tag a retained committed snapshot. Tags are immutable and
        protected from expire_snapshots."""
        self._require_published_view("create_tag")
        self._check_ref_name(name)
        v = self.manifest().version if version is None else version
        if v not in self.versions():
            raise ValueError(
                f"cannot tag v{v}: not a retained committed snapshot "
                f"(retained: {self.versions()})"
            )
        try:
            _atomic_create_exclusive(self._ref_file(f"TAG-{name}"), f"v{v:08d}.json")
        except CommitConflictError:
            raise FileExistsError(f"tag already exists: {name}") from None
        return v

    def resolve_tag(self, name: str) -> int:
        self._check_ref_name(name)
        try:
            with open(self._ref_file(f"TAG-{name}")) as f:
                return int(f.read().strip()[1:-5])
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name}") from None

    def list_tags(self) -> dict[str, int]:
        out = {}
        for fn in os.listdir(os.path.join(self.path, MANIFEST_DIR)):
            if fn.startswith("TAG-"):
                with open(self._ref_file(fn)) as f:
                    out[fn[len("TAG-"):]] = int(f.read().strip()[1:-5])
        return out

    def drop_tag(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            os.remove(self._ref_file(f"TAG-{name}"))
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name}") from None

    def _write_manifest(self, m: Manifest) -> None:
        name = f"v{m.version:08d}.json"
        # exclusive create = the optimistic-concurrency gate: if another
        # writer (streaming driver vs compaction/expiry job) committed this
        # version first, raise CommitConflictError instead of clobbering its
        # snapshot — the loser re-reads and retries against the new current
        _atomic_create_exclusive(
            os.path.join(self.path, MANIFEST_DIR, name), m.to_json()
        )
        # the pointer swap is THE commit point — everything before is
        # invisible (on a branch view, the branch head moves; CURRENT —
        # what main readers resolve — does not)
        _atomic_write(os.path.join(self.path, MANIFEST_DIR, self._ref), name)

    # --------------------------------------------------------------- schema
    def user_schema(self) -> T.StructType:
        return schema_from_json(self.manifest().schema_json)

    def column_renames(self) -> dict[str, str]:
        """Cumulative historic->current column name map (LakeBackend
        surface; Iceberg analog: the name-mapping / field-ID history)."""
        return dict(self.manifest().renames or {})

    def storage_schema(self, user_schema: T.StructType | None = None) -> T.StructType:
        us = user_schema or self.user_schema()
        return T.StructType(list(us.fields) + list(_SYSTEM_FIELDS))

    @property
    def n_buckets(self) -> int:
        return self.manifest().n_buckets

    def bucket_expr(
        self, conv_col: str = "conv_id", n_buckets: int | None = None
    ) -> F.Column:
        """Deterministic bucket assignment; all turns of a conversation share
        a bucket, so MERGE shuffles are bounded to touched buckets."""
        n = self.n_buckets if n_buckets is None else n_buckets
        return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n)).cast("int")

    @staticmethod
    def _xxh64(data: bytes) -> int:
        """XXH64 of ``data`` exactly as Spark's ``xxhash64`` hashes a string
        column (its UTF-8 bytes, seed 42, returned as a signed 64-bit int),
        so the driver can evaluate ``bucket_expr`` for one key without a
        job. Words are read little-endian, as Spark reads them on every
        platform."""
        M = 0xFFFFFFFFFFFFFFFF
        P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
        P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
        seed = 42

        def rotl(x: int, r: int) -> int:
            return ((x << r) | (x >> (64 - r))) & M

        def rnd(acc: int, lane: int) -> int:
            return rotl((acc + lane * P2) & M, 31) * P1 & M

        def u64(i: int) -> int:
            return int.from_bytes(data[i:i + 8], "little")

        n, i = len(data), 0
        if n >= 32:
            v = [(seed + P1 + P2) & M, seed + P2, seed, (seed - P1) & M]
            while i + 32 <= n:
                for j in range(4):
                    v[j] = rnd(v[j], u64(i))
                    i += 8
            h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M
            for x in v:
                h = ((h ^ rnd(0, x)) * P1 + P4) & M
        else:
            h = seed + P5
        h = (h + n) & M
        while i + 8 <= n:
            h = (rotl(h ^ rnd(0, u64(i)), 27) * P1 + P4) & M
            i += 8
        if i + 4 <= n:
            h ^= int.from_bytes(data[i:i + 4], "little") * P1 & M
            h = (rotl(h, 23) * P2 + P3) & M
            i += 4
        for b in data[i:]:
            h = rotl(h ^ (b * P5 & M), 11) * P1 & M
        h = (h ^ (h >> 33)) * P2 & M
        h = (h ^ (h >> 29)) * P3 & M
        h ^= h >> 32
        return h - (1 << 64) if h >> 63 else h

    # ---------------------------------------------------------------- reads
    def _aligned_scan(
        self,
        spark: SparkSession,
        m: Manifest,
        buckets: list[int] | None,
        entries: list[dict[str, Any]] | None = None,
        tag: tuple[str, set[str]] | None = None,
    ) -> DataFrame:
        """Scan data files aligned to the CURRENT schema.

        Files are grouped by their write-era schema; each group is cast/
        null-padded to the current storage schema, then unioned by name.
        This is how int→long widening survives without rewriting old files
        (parquet's own mergeSchema refuses type conflicts).

        ``entries``: scan exactly this file-entry list (stats-pruned reads)
        instead of whole buckets.

        ``tag``: ``(col_name, rel_paths)`` — additionally split each era
        group by membership in ``rel_paths`` and append a literal boolean
        column, so a consumer can tell which rows came from a designated
        file subset WITHOUT input_file_name() (a literal folds into the
        scan; the per-row function does not). The append-only changelog
        fast path uses this to read two snapshots in one scan.
        """
        cur_storage = self.storage_schema(schema_from_json(m.schema_json))
        want = [f.name for f in cur_storage.fields]
        groups: dict[tuple[str, bool], list[str]] = {}
        if entries is not None:
            sel: dict[str, list[dict[str, Any]]] = {"_": entries}
        elif buckets is None:
            sel = m.files
        else:
            sel = {str(b): m.files.get(str(b), []) for b in buckets}
        for flist in sel.values():
            for fe in flist:
                flag = tag is not None and fe["path"] in tag[1]
                groups.setdefault((fe["schema_id"], flag), []).append(
                    os.path.join(self.path, fe["path"])
                )
        ren = m.renames or {}
        parts: list[DataFrame] = []
        for (sid, flag), paths in groups.items():
            era_user = schema_from_json(m.schemas[sid])
            era_storage = self.storage_schema(era_user)
            df = spark.read.schema(era_storage).parquet(*paths)
            have = set(df.columns)

            def _src(n: str) -> str | None:
                # rename map FIRST: when the current name n was minted by a
                # rename, an old era may also physically store a column
                # NAMED n whose lineage is a different (renamed-away)
                # column — e.g. rename b→c then a→b: old files' physical b
                # is semantically c, and current-b must read old a. The map
                # hit only fires when the historic source name is present,
                # so new-era files (no historic names) still resolve via
                # the direct match below. rename_column also refuses new
                # names that shadow any historic era's physical column, so
                # this ordering is belt-and-braces.
                for old, cur in ren.items():
                    if cur == n and old in have:
                        return old
                if n in have:
                    return n
                return None

            cols = [
                (F.col(s).cast(cur_storage[n].dataType)
                 if (s := _src(n)) is not None
                 else F.lit(None).cast(cur_storage[n].dataType)).alias(n)
                for n in want
            ]
            if tag is not None:
                cols.append(F.lit(flag).alias(tag[0]))
            parts.append(df.select(*cols))
        if not parts:
            # parquet scans read every column nullable: declare the empty
            # scan the same way, so its schema does not depend on pruning
            fields = [T.StructField(f.name, f.dataType) for f in cur_storage.fields]
            if tag is not None:
                fields.append(T.StructField(tag[0], T.BooleanType(), False))
            return spark.createDataFrame(
                spark.sparkContext.emptyRDD(), T.StructType(fields)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _reduce_lww(df: DataFrame) -> DataFrame:
        """Collapse merge-on-read deltas to one row per key — the read-side
        LWW resolution (same (ts, op_seq) ordering as the write-side merge;
        map-side partial max_by, one shuffle on the key)."""
        vals = [c for c in df.columns if c not in KEY_COLS]
        return (
            df.groupBy(*KEY_COLS)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in vals]),
                    F.struct(F.col("ts"), F.col("op_seq")),
                ).alias("__w")
            )
            .select(*KEY_COLS, *[F.col(f"__w.{c}").alias(c) for c in vals])
        )

    def read_storage(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        reduced: bool | None = None,
    ) -> DataFrame:
        """Storage rows (incl. tombstones + system columns). ``reduced``
        applies the LWW delta-resolution; default: only when the manifest
        says deltas exist (no-op shuffle avoided otherwise)."""
        m = self.manifest()
        df = self._aligned_scan(spark, m, buckets)
        if reduced is None:
            reduced = m.needs_reduce
        return self._reduce_lww(df) if reduced else df

    def read(
        self,
        spark: SparkSession,
        include_system: bool = False,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Live (non-tombstoned) rows, user schema by default. Pass
        ``version`` for a time-travel read of a retained snapshot and
        ``buckets`` to scan only those hash buckets (caller-side partition
        pruning, e.g. incremental-view maintenance of touched keys)."""
        m = self.manifest(version)
        df = self._aligned_scan(spark, m, buckets)
        if m.needs_reduce:
            df = self._reduce_lww(df)
        df = df.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        if include_system:
            return df
        user_cols = [f.name for f in schema_from_json(m.schema_json).fields]
        return df.select(*user_cols)

    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
        emit_meta: bool = False,
        emit_pre: bool = False,
    ) -> DataFrame:
        """Changelog read between two retained snapshots — the read-side CDC
        surface (Iceberg changelog scan / Delta CDF analog; the reference
        keeps stable keys exactly so downstream systems can diff and dedup,
        /root/reference/parser/parser.go:150-176).

        One full-outer join of the two reduced snapshot states on the
        primary key. Both sides are the same bucket-aligned scan reduced by
        `_reduce_lww`, so each contributes one key-hash exchange and the
        join is co-partitioned — no driver-side row work, scales with the
        larger snapshot. Emits post-image rows (from the newer snapshot)
        tagged ``_change_type`` in {'insert','update_postimage','delete'};
        unchanged keys emit nothing; delete rows carry the key with NULL
        user values. A key that is dead on both sides (tombstoned, then the
        tombstone expired) emits nothing.

        ``emit_meta=True`` additionally emits the CDC envelope of the
        winning event in the newer snapshot — ``op`` ('I'/'U'/'D') and
        ``op_seq`` — and keeps the delete row's ``ts`` (the tombstone's
        event time) instead of nulling it, so the output is itself a
        replayable change feed: applying it to a replica at ``v_from``
        converges the replica to ``v_to`` with identical LWW metadata
        (see lake/replicate.py). A delete whose tombstone was already
        expired in ``v_to`` emits NULL ``op_seq``/``ts`` — downstream
        validation rejects it (the changelog-horizon contract, same as
        Delta CDF after VACUUM).

        ``emit_pre=True`` additionally emits ``_pre``, a struct of the
        OLD snapshot's value columns for the key (NULL for inserts; a
        column the old era did not store is NULL inside the struct) —
        what Delta CDF calls ``update_preimage``, flattened onto the
        post-image row. Pre-images are what make downstream aggregates
        delta-maintainable (new = old + f(post) − f(pre)) instead of
        re-aggregated (see lake/mv.py ConvSummaryMV.refresh).
        """
        ma, mb = self.manifest(v_from), self.manifest(v_to)
        # Key-neutral maintenance snapshots (compaction, clustering,
        # resolve, rebucket — marked at commit time) change file layout,
        # never the key→winner state or the schema. Shrink the interval
        # across them from BOTH ends: a leading neutral commit means
        # state(v_from) == state(child), a trailing one means
        # state(v_to) == state(parent). This keeps the append-only
        # one-scan fast path alive under interleaved maintenance (the
        # streaming loop compacts every trigger) and makes a maintenance-
        # only interval diff nothing at all — the Iceberg 'replace'-
        # snapshot rule for changelog readers.
        try:
            chain = [mb]
            while chain[-1].version > ma.version and chain[-1].parent is not None:
                chain.append(self.manifest(chain[-1].parent))
            if chain[-1].version == ma.version:
                seq = list(reversed(chain))  # ma .. mb, parent order
                hi = len(seq) - 1
                while hi > 0 and seq[hi].key_neutral:
                    hi -= 1
                lo = 0
                while lo < hi and seq[lo + 1].key_neutral:
                    lo += 1
                ma, mb = seq[lo], seq[hi]
        except (FileNotFoundError, OSError):
            pass  # expired intermediate snapshot: diff the full interval
        # manifest-level pruning: data files are immutable, so a bucket
        # whose file list is IDENTICAL in both manifests cannot contain a
        # change — skip scanning it on either side. At scale this turns the
        # diff from O(table) into O(buckets touched between the versions).
        # (Incomparable across a rebucket: bucket ids mean different key
        # ranges, so fall back to a full scan.)
        buckets: list[int] | None = None
        if ma.n_buckets == mb.n_buckets:
            buckets = sorted(
                int(b)
                for b in set(ma.files) | set(mb.files)
                if ma.files.get(b, []) != mb.files.get(b, [])
            )
        def _state(m: Manifest) -> DataFrame:
            df = self._aligned_scan(spark, m, buckets)
            # reduce only when that snapshot actually holds MOR deltas —
            # COW snapshots are already one-row-per-key (same gating as
            # read_storage); the join below shuffles on the key anyway
            return self._reduce_lww(df) if m.needs_reduce else df

        user_fields = schema_from_json(mb.schema_json).fields
        val_fields = [f for f in user_fields if f.name not in KEY_COLS]
        # append-only interval (the MOR streaming shape: every old file is
        # still part of the new snapshot): BOTH states come out of ONE
        # scan — files carry an era-level "was in v_from" literal, one
        # key-hash exchange computes the old winner (max_by over flagged
        # rows only) and the new winner (max_by over all) side by side.
        # The two-scan + full-outer-join path below costs two scans and
        # two reduces for the same answer; compaction/rewrite/rebucket
        # intervals fall back to it because file identity no longer
        # implies row-set containment.
        append_only = buckets is not None and all(
            {fe["path"] for fe in ma.files.get(k, [])}
            <= {fe["path"] for fe in mb.files.get(k, [])}
            for k in ma.files
        )
        if append_only:
            a_paths = {fe["path"] for fl in ma.files.values() for fe in fl}
            scan = self._aligned_scan(
                spark, mb, buckets, tag=("__in_a", a_paths)
            )
            vals = [
                c for c in scan.columns if c not in KEY_COLS and c != "__in_a"
            ]
            packed = F.struct(*[F.col(c) for c in vals])
            order = F.struct(F.col("ts"), F.col("op_seq"))
            in_a = F.col("__in_a")
            j = (
                scan.groupBy(*KEY_COLS)
                .agg(
                    F.max_by(packed, order).alias("__bw"),
                    F.max_by(
                        F.when(in_a, packed), F.when(in_a, order)
                    ).alias("__aw"),
                )
                .select(
                    *KEY_COLS,
                    *[F.col(f"__bw.{f.name}").alias(f.name) for f in val_fields],
                    F.col("__aw.op_seq").alias("__a_seq"),
                    F.coalesce(F.col("__aw.deleted"), F.lit(False)).alias("__a_del"),
                    F.col("__bw.op_seq").alias("__b_seq"),
                    F.coalesce(F.col("__bw.deleted"), F.lit(False)).alias("__b_del"),
                    *(
                        [
                            F.struct(
                                *[
                                    F.col(f"__aw.{f.name}").alias(f.name)
                                    for f in val_fields
                                ]
                            ).alias("__pre")
                        ]
                        if emit_pre
                        else []
                    ),
                )
            )
        else:
            a_extra: list = []
            if emit_pre:
                a_names = {
                    f.name for f in schema_from_json(ma.schema_json).fields
                }
                a_extra = [
                    F.struct(
                        *[
                            (
                                F.col(f.name)
                                if f.name in a_names
                                else F.lit(None).cast(f.dataType)
                            ).alias(f.name)
                            for f in val_fields
                        ]
                    ).alias("__pre")
                ]
            a = _state(ma).select(
                *KEY_COLS,
                *a_extra,
                F.col("op_seq").alias("__a_seq"),
                F.coalesce(F.col("deleted"), F.lit(False)).alias("__a_del"),
            )
            b = _state(mb).select(
                *KEY_COLS,
                *[F.col(f.name) for f in val_fields],
                F.col("op_seq").alias("__b_seq"),
                F.coalesce(F.col("deleted"), F.lit(False)).alias("__b_del"),
            )
            j = a.join(b, list(KEY_COLS), "full_outer")
        a_live = F.col("__a_seq").isNotNull() & ~F.coalesce(
            F.col("__a_del"), F.lit(True)
        )
        b_live = F.col("__b_seq").isNotNull() & ~F.coalesce(
            F.col("__b_del"), F.lit(True)
        )
        # op_seq is unique per change event, so the winning event differs
        # between snapshots iff its op_seq does
        change = (
            F.when(~a_live & b_live, F.lit("insert"))
            .when(a_live & ~b_live, F.lit("delete"))
            .when(
                a_live & b_live & (F.col("__a_seq") != F.col("__b_seq")),
                F.lit("update_postimage"),
            )
        )
        is_del = change == F.lit("delete")
        out_cols = [
            *KEY_COLS,
            *[
                # with meta, a delete keeps the tombstone's event time —
                # the replayed 'D' must carry the (ts, op_seq) that won
                F.col(f.name).alias(f.name)
                if (emit_meta and f.name == "ts")
                else F.when(is_del, F.lit(None).cast(f.dataType))
                .otherwise(F.col(f.name))
                .alias(f.name)
                for f in val_fields
            ],
            "_change_type",
        ]
        if emit_meta:
            out_cols += [
                F.when(is_del, F.lit("D"))
                .when(change == F.lit("insert"), F.lit("I"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.col("__b_seq").alias("op_seq"),
            ]
        if emit_pre:
            # pre-image exists iff the key was LIVE at v_from (inserts
            # and resurrection-after-expiry emit NULL)
            out_cols.append(F.when(a_live, F.col("__pre")).alias("_pre"))
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols)
        )

    def has_files(self, buckets: list[int] | None = None) -> bool:
        """Any committed data files (optionally: in these buckets)? The
        backend-neutral emptiness probe merge_into uses — an Iceberg
        adapter answers from snapshot manifests."""
        m = self.manifest()
        if buckets is None:
            return any(m.files.values())
        return any(m.files.get(str(b)) for b in buckets)

    def file_row_count(self, rel_path: str) -> int:
        """Row count of one committed data file from its parquet footer
        (driver-side, no job). Iceberg adapters read it from the manifest
        entry instead."""
        import pyarrow.parquet as pq

        return pq.read_metadata(os.path.join(self.path, rel_path)).num_rows

    def _file_stats(self, rel_path: str) -> dict[str, Any]:
        """Column-level min/max stats for one data file, from the parquet
        footer (driver-side, no Spark job — the write path calls this once
        per new file per commit, the Iceberg analog of the per-data-file
        column metrics a writer records in the manifest entry).

        Tracked: row count, conv_id min/max (the bucket/merge key — enables
        file skipping inside a bucket for point lookups) and ts min/max in
        µs (time-range scans, tombstone-expiry planning). Missing stats
        (old files, truncated pages) are simply absent — readers treat
        absent as "cannot prune"."""
        import pyarrow.parquet as pq

        md = pq.read_metadata(os.path.join(self.path, rel_path))
        out: dict[str, Any] = {"rows": md.num_rows}
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

        def _minmax(col: str):
            if col not in idx or md.num_row_groups == 0:
                return None, None
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    return None, None
                mins.append(st.min)
                maxs.append(st.max)
            return min(mins), max(maxs)

        cmin, cmax = _minmax("conv_id")
        if cmin is not None:
            out["conv_min"] = cmin if isinstance(cmin, str) else cmin.decode()
            out["conv_max"] = cmax if isinstance(cmax, str) else cmax.decode()
        tmin, tmax = _minmax("ts")
        if tmin is not None:
            import datetime as _dt

            def _us(v):
                if isinstance(v, _dt.datetime):
                    if v.tzinfo is None:
                        v = v.replace(tzinfo=_dt.timezone.utc)
                    return int(v.timestamp() * 1_000_000)
                return int(v)

            out["ts_min_us"], out["ts_max_us"] = _us(tmin), _us(tmax)
        return out

    # ------------------------------------------------------- pruned reads
    def bucket_of(
        self, spark: SparkSession, conv_id: str, n_buckets: int | None = None
    ) -> int:
        """Bucket id of one conversation: ``bucket_expr`` (pmod of Spark's
        xxhash64) evaluated on the driver, so planning submits no Spark
        job. Pass the TARGET manifest's n_buckets when resolving against a
        pinned version — the layout may have been rebucketed since. Raises
        TypeError for a non-``str`` key (the write path never stores a
        null conv_id, so no bucket can hold one). ``spark`` is unused and
        kept for callers."""
        if not isinstance(conv_id, str):
            raise TypeError(
                f"conv_id must be str, not {type(conv_id).__name__}"
            )
        n = self.n_buckets if n_buckets is None else n_buckets
        return self._xxh64(conv_id.encode("utf-8")) % n  # % n == pmod, n > 0

    def plan_point_lookup(
        self,
        spark: SparkSession,
        conv_id: str,
        version: int | None = None,
        m: Manifest | None = None,
    ) -> dict[str, Any]:
        """File-skipping plan for a single-conversation read: prune to the
        key's hash bucket, then drop every file in that bucket whose
        conv_id [min, max] range excludes the key (files without stats are
        kept — never wrong, just unpruned). Planning runs on the driver
        from manifest metadata alone and submits no Spark job. Returns the
        plan so callers and tests can assert the scan set: {bucket, files,
        files_in_bucket, files_total}. Pass ``m`` to plan against an
        already-loaded manifest (point_read does — the plan and the read
        must see ONE snapshot, not two pointer reads racing a concurrent
        commit)."""
        if m is None:
            m = self.manifest(version)
        b = self.bucket_of(spark, conv_id, n_buckets=m.n_buckets)
        in_bucket = m.files.get(str(b), [])
        sel = [
            fe
            for fe in in_bucket
            if not (
                (st := fe.get("stats")) is not None
                and "conv_min" in st
                and not (st["conv_min"] <= conv_id <= st["conv_max"])
            )
        ]
        return {
            "bucket": b,
            "files": sel,
            "files_in_bucket": len(in_bucket),
            "files_total": sum(len(fl) for fl in m.files.values()),
        }

    def point_read(
        self, spark: SparkSession, conv_id: str, version: int | None = None
    ) -> DataFrame:
        """Live rows of ONE conversation, scanning only the stats-selected
        files of its hash bucket (manifest-level partition pruning + file
        skipping — the lookup cost is O(files of one bucket), independent
        of table size). LWW delta-resolution applies as in read()."""
        m = self.manifest(version)
        plan = self.plan_point_lookup(spark, conv_id, m=m)
        df = self._aligned_scan(spark, m, None, entries=plan["files"]).filter(
            F.col("conv_id") == F.lit(conv_id)
        )
        if m.needs_reduce:
            df = self._reduce_lww(df)
        df = df.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        user_cols = [f.name for f in schema_from_json(m.schema_json).fields]
        return df.select(*user_cols)

    def read_between(
        self,
        spark: SparkSession,
        ts_from: str,
        ts_to: str,
        version: int | None = None,
    ) -> DataFrame:
        """Live rows whose event ts falls in [ts_from, ts_to) (ISO strings,
        UTC), skipping every data file whose manifest ts range cannot
        intersect the window. Under MOR the LWW reduction needs every file
        of a bucket that MIGHT hold a window row's newer/older versions, so
        file skipping applies the window test per FILE only when the bucket
        is delta-free; otherwise the whole bucket is scanned and the filter
        applies post-reduce (never wrong, just less pruned)."""
        (lo, ts_from), (hi, ts_to) = _iso_to_utc(ts_from), _iso_to_utc(ts_to)
        m = self.manifest(version)

        def _overlaps(fe: dict[str, Any]) -> bool:
            st = fe.get("stats") or {}
            if "ts_min_us" not in st:
                return True
            return st["ts_min_us"] < hi and st["ts_max_us"] >= lo

        if m.needs_reduce:
            # keep LWW correctness: prune at BUCKET granularity (a bucket
            # none of whose files overlaps the window holds no result rows
            # — reducing it can only produce rows with ts outside [lo, hi))
            buckets = [
                int(b) for b, fl in m.files.items() if any(map(_overlaps, fl))
            ]
            df = self._aligned_scan(spark, m, buckets)
            df = self._reduce_lww(df)
        else:
            entries = [fe for fl in m.files.values() for fe in fl if _overlaps(fe)]
            df = self._aligned_scan(spark, m, None, entries=entries)
        df = df.filter(~F.coalesce(F.col("deleted"), F.lit(False))).filter(
            (F.col("ts") >= F.lit(ts_from).cast("timestamp"))
            & (F.col("ts") < F.lit(ts_to).cast("timestamp"))
        )
        user_cols = [f.name for f in schema_from_json(m.schema_json).fields]
        return df.select(*user_cols)

    # --------------------------------------- value-bloom file skipping
    def set_skip_blooms(self, cols: list[str]) -> Manifest:
        """Declare NON-key columns to summarize into per-data-file bloom
        sidecars from now on (Iceberg: adding a bloom/ndv metric to the
        write spec). Applies to files written AFTER this commit; existing
        files carry no sidecar and equality lookups simply never prune
        them (rewrite via compact/cluster to backfill). Key/ts columns are
        refused — manifest min/max stats already skip on those."""
        m = self.manifest()
        user = {f.name for f in schema_from_json(m.schema_json).fields}
        bad = [c for c in cols if c not in user]
        if bad:
            raise ValueError(f"skip-bloom columns not in schema: {bad}")
        covered = [c for c in cols if c in (*KEY_COLS, "ts")]
        if covered:
            raise ValueError(
                f"{covered} are stats-pruned already (key/ts min-max); "
                "value blooms are for unclustered columns"
            )
        from dataclasses import replace as _dc_replace

        nm = _dc_replace(
            m, version=m.version + 1, parent=m.version,
            created_unix=time.time(), skip_blooms=sorted(set(cols)),
            key_neutral=True,
        )
        self._write_manifest(nm)
        return nm

    def _vb_probe(
        self, fe: dict[str, Any], col: str, probes: list[str],
        renames: dict[str, str] | None,
    ) -> bool:
        """May file ``fe`` contain a row whose ``col`` equals ANY probe's
        canonical rendering? True when unprovable (no sidecar, older algo,
        historic-era column absent) — absent means cannot skip."""
        from etl_spark.cdc.bloom import VALUE_BLOOM_ALGO, BloomFilter

        vb = fe.get("vb")
        if not vb or vb.get("algo") != VALUE_BLOOM_ALGO:
            return True
        # a file written before a rename stores the HISTORIC column name;
        # resolve the current name through the manifest rename map
        meta = vb["cols"].get(col)
        if meta is None:
            for old, new in (renames or {}).items():
                if new == col and old in vb["cols"]:
                    meta = vb["cols"][old]
                    break
        if meta is None:
            return True
        blob = self._vb_cache.get(vb["path"])
        if blob is None:
            with open(os.path.join(self.path, vb["path"]), "rb") as f:
                blob = f.read()
            if len(self._vb_cache) > 4096:  # bound driver memory
                self._vb_cache.clear()
            self._vb_cache[vb["path"]] = blob
        raw = blob[meta["off"]: meta["off"] + meta["m_bits"] // 8]
        bf = BloomFilter.from_bytes(raw, meta["m_bits"], meta["k"])
        import pandas as pd

        return bool(bf.might_contain(pd.Series(probes)).any())

    def plan_value_lookup(
        self, col: str, value, version: int | None = None,
        m: Manifest | None = None,
    ) -> dict[str, Any]:
        """File-skipping plan for an equality (or IN-list: pass a
        list/tuple/set) lookup on a value-bloom column: drop every data
        file whose sidecar proves all probe values absent (~0.2%
        false-positive rate keeps a few extra files, never loses one).
        Returns {files, buckets, files_total, files_pruned} so callers
        and tests can assert the scan set."""
        from etl_spark.cdc.bloom import canonical_value_str

        if m is None:
            m = self.manifest(version)
        vals = value if isinstance(value, (list, tuple, set)) else [value]
        probes = [canonical_value_str(v) for v in vals]
        sel: list[dict[str, Any]] = []
        buckets: set[int] = set()
        total = 0
        for b, fl in m.files.items():
            for fe in fl:
                total += 1
                if self._vb_probe(fe, col, probes, m.renames):
                    sel.append(fe)
                    buckets.add(int(b))
        return {
            "files": sel,
            "buckets": sorted(buckets),
            "files_total": total,
            "files_pruned": total - len(sel),
        }

    def read_where_equal(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Live rows with ``col = value``, scanning only bloom-selected
        files. Same MOR guard as read_between: while deltas are unresolved
        the LWW winner of a key may sit in a file the bloom excludes (the
        key's OLD row holds the value, its newest does not) — so pruning
        falls back to BUCKET granularity (a bucket with no candidate file
        cannot produce a result row: all of a key's versions share its
        bucket). Delta-free tables prune per FILE, the exact scan set."""
        return self._read_where(spark, col, value, F.col(col) == F.lit(value),
                                version)

    def read_where_in(
        self, spark: SparkSession, col: str, values, version: int | None = None
    ) -> DataFrame:
        """IN-list variant of read_where_equal (the batch secondary-key
        fetch): one pass over the union of every value's candidate files —
        each sidecar is probed once with the whole probe list, so the scan
        set is the same files a per-value loop would touch, without
        scanning any file twice."""
        values = list(values)
        return self._read_where(spark, col, values, F.col(col).isin(*values),
                                version)

    def _read_where(
        self, spark: SparkSession, col: str, probe, pred, version: int | None
    ) -> DataFrame:
        m = self.manifest(version)
        plan = self.plan_value_lookup(col, probe, m=m)
        if m.needs_reduce:
            df = self._aligned_scan(spark, m, plan["buckets"])
            df = self._reduce_lww(df)
        else:
            df = self._aligned_scan(spark, m, None, entries=plan["files"])
        df = df.filter(~F.coalesce(F.col("deleted"), F.lit(False))).filter(pred)
        user_cols = [f.name for f in schema_from_json(m.schema_json).fields]
        return df.select(*user_cols)

    # ------------------------------------------------------------ commit API
    def load_bloom(self):
        """The persisted key seen-set. None for pre-bloom tables or sidecars
        written under a different hash algo (fast path off, never wrong)."""
        from etl_spark.cdc.bloom import BLOOM_ALGO, BloomFilter

        m = self.manifest()
        if not m.bloom or m.bloom.get("algo") != BLOOM_ALGO:
            return None
        with open(os.path.join(self.path, m.bloom["path"]), "rb") as f:
            return BloomFilter.from_bytes(f.read(), m.bloom["m_bits"], m.bloom["k"])

    def commit_version(
        self,
        new_files_by_bucket: dict[int, list[dict[str, Any]]],
        touched_buckets: list[int],
        batch_id: str | None,
        commit_record: dict[str, Any] | None,
        new_user_schema: T.StructType | None = None,
        segments: list[str] | None = None,
        new_bloom=None,
        append_files: bool = False,
        new_watermark_us: int | None = None,
        needs_reduce: bool | None = None,
        input_files: list[str] | None = None,
        drop_bloom: bool = False,
        new_n_buckets: int | None = None,
        expected_version: int | None = None,
        key_neutral: bool = False,
        on_conflict: str = "error",
        max_rebase_retries: int = 5,
    ) -> Manifest:
        """Swap in a new snapshot: touched buckets get their file lists
        REPLACED (copy-on-write) — or APPENDED when the merge proved the
        batch pure-insert via the Bloom seen-set (merge-on-read-style
        append, zero write amplification). ``new_bloom`` (a BloomFilter)
        is persisted as a sidecar BEFORE the pointer swap so the manifest
        never references a missing file. ``drop_bloom`` removes the
        seen-set reference instead: the fused merge-on-read path appends
        without scanning for membership, so the stored bloom no longer
        covers the table's keys — dropping it makes the staleness explicit
        (the next copy-on-write merge or compaction rebuilds it).

        ``on_conflict="rebase"`` (Iceberg commit-retry analog): when a
        CONCURRENT writer advanced the table past ``expected_version``,
        re-apply this commit's manifest EDIT on the new head instead of
        failing — valid only when the edit still holds there, checked by
        ``_validate_rebase``: appends commute with anything short of a
        rebucket/era change (MOR read-time LWW makes overlapping-key delta
        appends order-independent); bucket REPLACEMENTS rebase only if no
        intervening commit touched the same buckets (else the replacement
        was computed from stale reads and the caller must RECOMPUTE — the
        wrapper re-raises CommitConflictError for that case). An
        already-present ``batch_id`` short-circuits to the head manifest
        (a concurrent writer applied the same batch; exactly-once holds).
        The seen-set sidecar is rebased too: ours = base ∪ batch keys, so
        it is UNIONed with the head's (if compatible) or dropped (stale by
        construction) — never committed missing the intervening keys."""
        base_v = expected_version
        bloom_eff, drop_bloom_eff = new_bloom, drop_bloom
        attempts = 0
        while True:
            m = self.manifest()
            if batch_id is not None and (
                batch_id in m.commits
                or (m.ledger is not None
                    and batch_id in self._ledger_maps(m)["commits"])
            ):
                # a concurrent writer (or a redelivered trigger racing a
                # slow one) already applied this very batch — idempotent
                return m
            conflict: CommitConflictError | None = None
            if base_v is not None and m.version != base_v:
                # optimistic concurrency, check half: the caller states
                # which version its computation READ (scan, dedup, file
                # writes). If another writer committed since, the file
                # lists computed here are stale — replacing buckets would
                # silently drop the other writer's rows. The exclusive
                # manifest create in _write_manifest closes the residual
                # check-to-link window (two writers that both pass this
                # check race to create the same v{N+1}; exactly one wins).
                conflict = CommitConflictError(
                    f"table advanced to v{m.version} since this writer "
                    f"read v{base_v}; recompute against the current "
                    "snapshot and retry"
                )
            else:
                try:
                    return self._commit_version_once(
                        m, new_files_by_bucket, touched_buckets, batch_id,
                        commit_record, new_user_schema, segments, bloom_eff,
                        append_files, new_watermark_us, needs_reduce,
                        input_files, drop_bloom_eff, new_n_buckets,
                        key_neutral,
                    )
                except CommitConflictError as e:
                    conflict = e
            if on_conflict != "rebase" or base_v is None:
                raise conflict
            attempts += 1
            if attempts > max_rebase_retries:
                raise CommitConflictError(
                    f"gave up after {max_rebase_retries} rebase attempts "
                    f"(sustained concurrent commit pressure): {conflict}"
                ) from conflict
            head = self.manifest()
            bloom_eff, drop_bloom_eff, needs_reduce = self._validate_rebase(
                base_v, head, touched_buckets, append_files,
                bool(new_files_by_bucket), bloom_eff, drop_bloom_eff,
                new_n_buckets, key_neutral, needs_reduce,
            )
            if append_files and new_files_by_bucket and not key_neutral:
                # the append was planned against the BASE (e.g. "table was
                # empty → rows are one-per-key already"); on the winner's
                # snapshot our delta may overlap its keys — readers must
                # apply the LWW reduction until the next resolve/compaction
                needs_reduce = True
            base_v = head.version
            time.sleep(0.005 * attempts)  # decorrelate the CAS re-race

    def _validate_rebase(
        self,
        base_version: int,
        head: Manifest,
        touched_buckets: list[int],
        append_files: bool,
        adds_files: bool,
        bloom_eff,
        drop_bloom_eff: bool,
        new_n_buckets: int | None,
        key_neutral: bool,
        needs_reduce: bool | None,
    ):
        """Decide whether this commit's edit can be replayed on ``head``
        (committed after the edit was computed against ``base_version``),
        and rebase the seen-set sidecar plus the reduction marker. Returns
        the (possibly unioned or dropped) (new_bloom, drop_bloom,
        needs_reduce) triple; raises CommitConflictError when the edit
        must be RECOMPUTED instead. Only the base and head manifests are
        compared — file names are uuid-unique, so per-bucket list equality
        between the two proves no intervening commit touched that bucket,
        without walking the chain."""
        try:
            base = self.manifest(base_version)
        except (ValueError, FileNotFoundError):
            raise CommitConflictError(
                f"cannot rebase: base snapshot v{base_version} is no "
                "longer retained (expired mid-commit) — recompute"
            ) from None
        if new_n_buckets is not None or head.n_buckets != base.n_buckets:
            raise CommitConflictError(
                "cannot rebase across a bucket-layout change "
                f"(base n_buckets={base.n_buckets}, head="
                f"{head.n_buckets}, commit sets {new_n_buckets}): file→"
                "bucket assignment is stale — recompute"
            )
        if (head.current_schema_id != base.current_schema_id
                or len(head.schemas) != len(base.schemas)):
            # our data files were written with era ids allocated against
            # the BASE manifest's schema registry; an intervening era
            # would make those ids point at the wrong schema
            raise CommitConflictError(
                "cannot rebase across a concurrent schema-era change — "
                "recompute (file entries carry era ids allocated against "
                "the base snapshot)"
            )
        if not append_files:
            stale = [
                b for b in touched_buckets
                if head.files.get(str(b), []) != base.files.get(str(b), [])
            ]
            if stale:
                raise CommitConflictError(
                    f"cannot rebase bucket replacement: buckets {stale} "
                    "were modified by a concurrent commit — this rewrite "
                    "was computed from stale reads, recompute"
                )
        if needs_reduce is False:
            # this commit CLEARS the merge-on-read marker — a claim proved
            # against the BASE ("I rewrote every delta-holding bucket
            # reduced"). If ANY bucket outside our rewrite changed since
            # (e.g. a stream appended deltas into a bucket that was empty
            # at base — disjoint, so the rebase itself is fine), the claim
            # no longer covers the table: demote to None (carry the head's
            # marker, which the intervening MOR commit set True).
            ours = {str(b) for b in touched_buckets}
            for b in set(head.files) | set(base.files):
                if b not in ours and (
                    head.files.get(b, []) != base.files.get(b, [])
                ):
                    needs_reduce = None
                    break
        # seen-set rebase: ours covers base-keys ∪ batch-keys; the head may
        # hold keys we never saw. Union when compatible, else drop (stale
        # is explicit; the next COW merge rebuilds) — never publish a
        # bloom that silently misses the intervening writer's keys.
        if drop_bloom_eff:
            return bloom_eff, drop_bloom_eff, needs_reduce
        if bloom_eff is not None:
            from etl_spark.cdc.bloom import BLOOM_ALGO, BloomFilter

            hb = head.bloom
            if (hb is None or hb.get("m_bits") != bloom_eff.m_bits
                    or hb.get("k") != bloom_eff.k
                    or hb.get("algo") != BLOOM_ALGO):
                return None, True, needs_reduce
            with open(os.path.join(self.path, hb["path"]), "rb") as f:
                other = BloomFilter.from_bytes(f.read(), hb["m_bits"], hb["k"])
            return bloom_eff.union(other), False, needs_reduce
        if adds_files and not key_neutral and head.bloom is not None:
            # we add key-bearing files but carry no bloom of our own:
            # carrying the head's sidecar would claim coverage it lacks
            return None, True, needs_reduce
        return bloom_eff, drop_bloom_eff, needs_reduce

    def _commit_version_once(
        self,
        m: Manifest,
        new_files_by_bucket: dict[int, list[dict[str, Any]]],
        touched_buckets: list[int],
        batch_id: str | None,
        commit_record: dict[str, Any] | None,
        new_user_schema: T.StructType | None,
        segments,
        new_bloom,
        append_files: bool,
        new_watermark_us: int | None,
        needs_reduce: bool | None,
        input_files: list[str] | None,
        drop_bloom: bool,
        new_n_buckets: int | None,
        key_neutral: bool,
    ) -> Manifest:
        """Build and CAS-publish one snapshot on top of base manifest
        ``m`` (already conflict-checked by commit_version)."""
        files = dict(m.files)
        for b in touched_buckets:
            add = new_files_by_bucket.get(b, [])
            files[str(b)] = (m.files.get(str(b), []) + add) if append_files else add
        schemas = dict(m.schemas)
        schema_json = m.schema_json
        schema_id = m.current_schema_id
        if new_user_schema is not None and new_user_schema.json() != m.schema_json:
            # evolution: validate against the widening lattice, register an era
            evolved = evolve_schema(schema_from_json(m.schema_json), new_user_schema)
            schema_json = evolved.json()
            schema_id = str(len(schemas))
            schemas[schema_id] = schema_json
        commits = dict(m.commits)
        seg_map = dict(m.segments)
        inputs_map = dict(m.applied_inputs)
        if batch_id is not None:
            commits[batch_id] = {"version": m.version + 1, **(commit_record or {})}
            for fpath in input_files or []:
                inputs_map[fpath] = batch_id
            # ``segments`` as a dict maps each completed segment to its
            # CONTENT fingerprint (batch_fingerprint over the segment's
            # full file set) — this is what lets a later replay prove
            # "same name, same content → skip" vs "same name, different
            # content → refuse" (segment names are immutable by contract;
            # silently skipping reused names would drop data). A plain
            # list records the committing batch id (legacy/fallback).
            # Dict-style values are stored with the ``l:`` style marker
            # (normalized away by committed_segments): it records that
            # the value IS a listing fingerprint, so the immutability
            # check can refuse a mutated segment definitively instead of
            # falling back to legacy name-membership semantics whenever
            # the fingerprint happens to equal a committed batch id —
            # which it ALWAYS does for single-trigger completions.
            seg_items = (
                [(s, f"{_SEG_LISTING_STYLE}{fp}") for s, fp in segments.items()]
                if isinstance(segments, dict)
                else [(s, batch_id) for s in (segments or [])]
            )
            for s, fp in seg_items:
                seg_map[s] = fp
            # a completed segment subsumes its per-file entries — prune them
            # so applied_inputs stays bounded by IN-FLIGHT partial segments
            if seg_items:
                done = {s for s, _ in seg_items}
                inputs_map = {
                    f: b for f, b in inputs_map.items()
                    if f.split("/", 1)[0] not in done
                }
        # ledger snapshot spill (Iceberg manifest-list split analog): when
        # the inline tail outgrows the threshold, fold prior-ledger ∪ tail
        # into ONE immutable cumulative file and restart the inline maps
        # empty. Written before the pointer swap like the bloom sidecar
        # (a losing CAS writer's orphan file is swept by expire_snapshots).
        # Per-commit manifest size is thus O(files + tail); the full
        # history moves to a file rewritten only once per spill interval.
        ledger_meta = m.ledger
        if (len(commits) + len(seg_map)) > self.ledger_inline_max:
            led = self._ledger_maps(m)
            merged_ledger = {
                "commits": {**led["commits"], **commits},
                "segments": {**led["segments"], **seg_map},
            }
            ledger_rel = os.path.join(
                MANIFEST_DIR,
                f"ledger-v{m.version + 1:08d}-{uuid.uuid4().hex[:8]}.json",
            )
            _atomic_write(
                os.path.join(self.path, ledger_rel),
                json.dumps(merged_ledger, sort_keys=True),
            )
            ledger_meta = {
                "path": ledger_rel,
                "commits": len(merged_ledger["commits"]),
                "segments": len(merged_ledger["segments"]),
            }
            commits, seg_map = {}, {}
        bloom_meta = None if drop_bloom else m.bloom
        if new_bloom is not None:
            from etl_spark.cdc.bloom import BLOOM_ALGO

            # unique name per WRITER (like data files): a deterministic
            # bloom-v{N+1} name lets a LOSING optimistic-concurrency writer
            # overwrite the winner's already-committed sidecar content
            bloom_rel = os.path.join(
                MANIFEST_DIR,
                f"bloom-v{m.version + 1:08d}-{uuid.uuid4().hex[:8]}.bin",
            )
            with open(os.path.join(self.path, bloom_rel), "wb") as f:
                f.write(new_bloom.to_bytes())
            bloom_meta = {
                "path": bloom_rel,
                "m_bits": new_bloom.m_bits,
                "k": new_bloom.k,
                "algo": BLOOM_ALGO,
            }
        wm = m.watermark_us
        if new_watermark_us is not None:
            wm = new_watermark_us if wm is None else max(wm, new_watermark_us)
        nr = m.needs_reduce if needs_reduce is None else needs_reduce
        nm = Manifest(
            version=m.version + 1,
            parent=m.version,
            schema_json=schema_json,
            schemas=schemas,
            current_schema_id=schema_id,
            n_buckets=m.n_buckets if new_n_buckets is None else new_n_buckets,
            files=files,
            commits=commits,
            created_unix=time.time(),
            segments=seg_map,
            applied_inputs=inputs_map,
            bloom=bloom_meta,
            watermark_us=wm,
            needs_reduce=nr,
            constraints=m.constraints,
            renames=m.renames,
            key_neutral=key_neutral,
            skip_blooms=m.skip_blooms,
            ledger=ledger_meta,
        )
        self._write_manifest(nm)
        return nm

    def current_version(self) -> int:
        """The committed snapshot version (LakeBackend protocol; Iceberg:
        current snapshot id) — the OCC base a writer passes back to
        commit_version as expected_version."""
        return self.manifest().version

    def high_watermark_us(self) -> int | None:
        """Max event-time (µs) ever applied — the event-time frontier."""
        return self.manifest().watermark_us

    def _ledger_maps(self, m: Manifest) -> dict[str, dict]:
        """The manifest's spilled ledger snapshot (empty maps when none).
        Immutable file → loaded once per path, cached module-wide."""
        if not m.ledger:
            return {"commits": {}, "segments": {}}
        full = os.path.join(self.path, m.ledger["path"])
        hit = _LEDGER_CACHE.get(full)
        if hit is None:
            with open(full) as f:
                hit = json.load(f)
            if len(_LEDGER_CACHE) >= _LEDGER_CACHE_MAX:
                _LEDGER_CACHE.pop(next(iter(_LEDGER_CACHE)))
            _LEDGER_CACHE[full] = hit
        return hit

    def full_commits(self, m: Manifest | None = None) -> dict[str, dict[str, Any]]:
        """Complete commit ledger of a snapshot: spilled snapshot ∪ inline
        tail. This is what exactly-once membership and the metrics tables
        read; ``m.commits`` alone is only the post-spill tail."""
        m = self.manifest() if m is None else m
        led = self._ledger_maps(m)["commits"]
        return {**led, **m.commits} if led else dict(m.commits)

    def full_segments(self, m: Manifest | None = None) -> dict[str, str]:
        """Complete segment ledger of a snapshot (spilled ∪ inline)."""
        m = self.manifest() if m is None else m
        led = self._ledger_maps(m)["segments"]
        return {**led, **m.segments} if led else dict(m.segments)

    def is_committed(self, batch_id: str) -> bool:
        m = self.manifest()
        return batch_id in m.commits or (
            m.ledger is not None and batch_id in self._ledger_maps(m)["commits"]
        )

    def committed_segments(self) -> dict[str, str]:
        """Completed segments → content fingerprint (batch_fingerprint over
        the segment's full file set; legacy entries carry the committing
        batch id). Membership (`name in ...`) answers "done?", the value
        answers "done with WHAT content?" — the reuse-refusal check.
        The internal ``l:`` style marker is normalized away; callers
        needing to know WHICH entries are certified listing fingerprints
        use ``listing_segments``."""
        return {
            s: fp[len(_SEG_LISTING_STYLE):]
            if fp.startswith(_SEG_LISTING_STYLE)
            else fp
            for s, fp in self.full_segments().items()
        }

    def listing_segments(self) -> set[str]:
        """Segment names whose ledger entry is a CERTIFIED listing
        fingerprint (written style-marked by this engine version). For
        these, listing-vs-fingerprint mismatch proves segment mutation;
        unmarked (pre-marker or list-style) entries fall back to legacy
        name-membership semantics in the immutability check."""
        return {
            s
            for s, fp in self.full_segments().items()
            if fp.startswith(_SEG_LISTING_STYLE)
        }

    def committed_inputs(self) -> set[str]:
        """Segment-relative input files already applied: every file of every
        COMPLETE segment plus the per-file entries of partial segments."""
        m = self.manifest()
        return set(m.applied_inputs)

    def commit_log(self) -> dict[str, dict[str, Any]]:
        return self.full_commits()

    def describe(self) -> list[dict[str, Any]]:
        """DESCRIBE TABLE: (name, type, nullable, comment) for the current
        user schema plus the engine's system columns. Comments ride in
        StructField metadata (reference: field descriptions propagated to
        the warehouse schema, /root/reference/schema/schema.go:101-124)."""
        from etl_spark.schema import describe_schema

        rows = describe_schema(self.user_schema())
        sys_rows = describe_schema(T.StructType(list(_SYSTEM_FIELDS)))
        for r in sys_rows:
            r["comment"] = r["comment"] or "engine system column"
        return rows + sys_rows

    # ------------------------------------------------------- lineage/metrics
    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """Per-batch metrics table (one row per applied batch), from the
        crash-consistent commit records. Invariant (mirrors the reference's
        ``Accepted == Failed + Committed + RowsInBuffer``,
        /root/reference/etl/etl.go:20-35): events_in == failed + late_dropped
        + dup_dropped + inserted + updated + deleted + stale_skipped."""
        rows = []
        for bid, c in self.commit_log().items():
            rows.append(
                {
                    "batch_id": bid,
                    "version": c.get("version"),
                    "events_in": c.get("events_in", 0),
                    "dup_dropped": c.get("dup_dropped", 0),
                    "inserted": c.get("inserted", 0),
                    "updated": c.get("updated", 0),
                    "deleted": c.get("deleted", 0),
                    "stale_skipped": c.get("stale_skipped", 0),
                    "carried": c.get("carried", 0),
                    "failed": c.get("failed", 0),
                    "late_dropped": c.get("late_dropped", 0),
                    "wall_sec": c.get("wall_sec", 0.0),
                    # merge mode of the commit: disposition semantics differ
                    # (mor counts every upsert as "inserted"); consumers
                    # must not compare the inserted/updated split across
                    # modes without this column
                    "mode": c.get("mode", "cow"),
                }
            )
        schema = (
            "batch_id string, version long, events_in long, dup_dropped long, "
            "inserted long, updated long, deleted long, stale_skipped long, "
            "carried long, failed long, late_dropped long, wall_sec double, "
            "mode string"
        )
        return spark.createDataFrame(rows, schema=schema)

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """Per-(batch, bucket) lineage: which partition got how many rows from
        which source files — the engine's analog of the reference's ParseInfo
        lineage struct (/root/reference/schema/schema.go:15-24)."""
        rows = []
        for bid, c in self.commit_log().items():
            for b, nrows in (c.get("bucket_rows") or {}).items():
                rows.append(
                    {
                        "batch_id": bid,
                        "bucket": int(b),
                        "rows_written": int(nrows),
                        "source_files": c.get("source_files") or [],
                        "engine_version": c.get("engine_version", ""),
                    }
                )
        schema = (
            "batch_id string, bucket int, rows_written long, "
            "source_files array<string>, engine_version string"
        )
        return spark.createDataFrame(rows, schema=schema)

    # ---------------------------------------------------------- maintenance
    def stats_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Per-bucket layout/statistics summary straight from the manifest
        (no data scan): file count, row count, conv_id/ts coverage. The
        ops view for compaction planning and skew inspection — a bucket
        with many files wants bin-packing; a bucket with far more rows
        than its peers is a hash-skew signal."""
        rows = []
        m = self.manifest(version)
        for b, fl in sorted(m.files.items(), key=lambda kv: int(kv[0])):
            sts = [fe.get("stats") or {} for fe in fl]
            known = [fe["rows"] for fe in fl if fe.get("rows") is not None]
            cmins = [s["conv_min"] for s in sts if "conv_min" in s]
            tmins = [s["ts_min_us"] for s in sts if "ts_min_us" in s]
            tmaxs = [s["ts_max_us"] for s in sts if "ts_max_us" in s]
            rows.append({
                "bucket": int(b),
                "n_files": len(fl),
                "n_rows": int(sum(known)) if known else None,
                "conv_min": min(cmins) if cmins else None,
                "conv_max": max(s["conv_max"] for s in sts if "conv_max" in s)
                if cmins else None,
                "ts_min_us": min(tmins) if tmins else None,
                "ts_max_us": max(tmaxs) if tmaxs else None,
            })
        schema = (
            "bucket int, n_files int, n_rows long, conv_min string, "
            "conv_max string, ts_min_us long, ts_max_us long"
        )
        return spark.createDataFrame(rows, schema=schema)

    @_retry_on_conflict
    def expire_tombstones(self, spark: SparkSession, older_than_ts: str) -> int:
        """Compaction: physically drop tombstones with ts < older_than_ts
        (safe once no change older than that can still arrive — the batch
        analog of a streaming watermark). Rewrites only buckets that contain
        expirable tombstones.

        Planning is manifest-first: a bucket whose every file has
        ts_min_us >= the cutoff cannot hold an expirable tombstone, so the
        candidate-discovery scan skips it entirely (at a steady-state
        10^10-event table almost all buckets' files are younger than the
        expiry horizon only in their deltas — the stats cut the discovery
        scan to the old tail instead of the full table)."""
        m = self.manifest()
        cutoff_us, older_than_ts = _iso_to_utc(older_than_ts)

        def _may_hold_old(fe: dict[str, Any]) -> bool:
            st = fe.get("stats") or {}
            return "ts_min_us" not in st or st["ts_min_us"] < cutoff_us

        cand_buckets = [
            int(b) for b, fl in m.files.items() if any(map(_may_hold_old, fl))
        ]
        if not cand_buckets:
            return 0
        storage = self.read_storage(spark, cand_buckets)
        doomed = storage.filter(
            F.col("deleted") & (F.col("ts") < F.lit(older_than_ts).cast("timestamp"))
        )
        buckets = [r[0] for r in doomed.select(self.bucket_expr()).distinct().collect()]
        if not buckets:
            return 0
        keep = self.read_storage(spark, buckets).filter(
            ~(F.col("deleted") & (F.col("ts") < F.lit(older_than_ts).cast("timestamp")))
        )
        n = int(doomed.count())
        files = self.write_bucket_files(
            keep, version_tag=f"compact{m.version + 1}", cluster_sort=True
        )
        self.commit_version(
            files, buckets, None, None, expected_version=m.version, on_conflict="rebase"
        )
        return n

    def _payload_cols(self) -> list[str]:
        return [
            f.name
            for f in self.user_schema().fields
            if f.name not in KEY_COLS and f.name != "ts"
        ]

    @_retry_on_conflict
    def delete_where(
        self, spark: SparkSession, predicate: str, purge: bool = False
    ) -> int:
        """Row-level DELETE FROM ... WHERE (Iceberg/Delta analog: copy-on-
        write row deletes; reference analog: the gardener's reprocess-time
        row retractions, /root/reference/schema/README.md:6-10). Matching
        LIVE rows become TOMBSTONES: payload columns are nulled (the GDPR
        redaction path — content is physically gone after the rewrite) and
        ``deleted`` flips, but the row keeps its (ts, op_seq) ordinal, so
        LWW stays coherent with the change feed: a strictly-newer feed
        event still resurrects the key, an older replayed event is still
        stale. ``purge=True`` drops the rows physically instead (the key
        itself must vanish; a later re-insert is then indistinguishable
        from a first insert).

        Scale shape: one discovery scan with the predicate pushed to
        parquet finds affected buckets; only those buckets are rewritten
        (clustered + sorted), everything else is untouched manifest reuse.
        Returns the number of rows deleted."""
        m = self.manifest()
        all_buckets = [int(b) for b, fl in m.files.items() if fl]
        if not all_buckets:
            return 0
        pred = F.coalesce(F.expr(predicate), F.lit(False)) & ~F.col("deleted")
        hit = self.read_storage(spark, all_buckets, reduced=m.needs_reduce).filter(
            pred
        )
        buckets = sorted(
            r[0] for r in hit.select(self.bucket_expr()).distinct().collect()
        )
        if not buckets:
            return 0
        rows = self.read_storage(spark, buckets, reduced=m.needs_reduce)
        n = int(rows.filter(pred).count())
        if purge:
            out = rows.filter(~pred)
        else:
            out = rows.select(
                *[
                    F.when(pred, F.lit(None).cast(rows.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in self._payload_cols()
                    else (
                        F.when(pred, F.lit(True)).otherwise(F.col(c)).alias(c)
                        if c == "deleted"
                        else F.col(c)
                    )
                    for c in rows.columns
                ]
            )
        files = self.write_bucket_files(
            out, version_tag=f"delete{m.version + 1}", cluster_sort=True
        )
        # a rewritten bucket may have gone empty under purge — keep its
        # (now file-less) entry so the manifest still covers the bucket
        for b in buckets:
            files.setdefault(b, [])
        self.commit_version(files, buckets, None, None, expected_version=m.version, on_conflict="rebase")
        return n

    @_retry_on_conflict
    def update_where(
        self, spark: SparkSession, predicate: str, assignments: dict[str, str]
    ) -> int:
        """Row-level UPDATE ... SET ... WHERE over live rows (copy-on-write,
        same discovery/rewrite shape as delete_where). ``assignments`` maps
        payload column -> SQL expression (evaluated per matching row, may
        reference any column). The row keeps its (ts, op_seq) ordinal: a
        maintenance fix-up is not a feed event, so a strictly-newer CDC
        event still overwrites it and an older replay is still stale —
        exactly Iceberg's UPDATE interacting with a MERGE pipeline.
        Returns the number of rows updated."""
        bad = set(assignments) - set(self._payload_cols())
        if bad:
            raise ValueError(
                f"update_where may only assign payload columns, got {sorted(bad)}"
            )
        m = self.manifest()
        all_buckets = [int(b) for b, fl in m.files.items() if fl]
        if not all_buckets:
            return 0
        pred = F.coalesce(F.expr(predicate), F.lit(False)) & ~F.col("deleted")
        hit = self.read_storage(spark, all_buckets, reduced=m.needs_reduce).filter(
            pred
        )
        buckets = sorted(
            r[0] for r in hit.select(self.bucket_expr()).distinct().collect()
        )
        if not buckets:
            return 0
        rows = self.read_storage(spark, buckets, reduced=m.needs_reduce)
        n = int(rows.filter(pred).count())
        out = rows.select(
            *[
                F.when(pred, F.expr(assignments[c]).cast(rows.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in rows.columns
            ]
        )
        files = self.write_bucket_files(
            out, version_tag=f"update{m.version + 1}", cluster_sort=True
        )
        self.commit_version(files, buckets, None, None, expected_version=m.version, on_conflict="rebase")
        return n

    @_retry_on_conflict
    def compact_small_files(
        self, spark: SparkSession, max_files_per_bucket: int = 4
    ) -> int:
        """Bin-pack buckets that have accumulated more than
        ``max_files_per_bucket`` data files (append commits add one file
        per bucket per batch) into one file each, LWW-collapsing any
        merge-on-read deltas they contain. Returns the number of buckets
        rewritten. Iceberg analog: rewrite_data_files. Logical content is
        unchanged; old files stay referenced by older snapshots until
        expire_snapshots."""
        m = self.manifest()
        buckets = [
            int(b) for b, fl in m.files.items() if len(fl) > max_files_per_bucket
        ]
        if not buckets:
            return 0
        rows = self.read_storage(spark, buckets, reduced=m.needs_reduce)
        files = self.write_bucket_files(
            rows, version_tag=f"binpack{m.version + 1}", cluster_sort=True
        )
        # reduced-rewrite of every data-holding bucket ⇒ table is delta-free
        all_data_buckets = {int(b) for b, fl in m.files.items() if fl}
        clear = m.needs_reduce and all_data_buckets.issubset(set(buckets))
        self.commit_version(
            files, buckets, None, None, needs_reduce=False if clear else None,
            expected_version=m.version, on_conflict="rebase", key_neutral=True,
        )
        return len(buckets)

    @_retry_on_conflict
    def resolve_deltas(
        self, spark: SparkSession, max_buckets: int | None = None
    ) -> int:
        """Rewrite delta-holding buckets with the LWW reduction applied —
        the Iceberg "major compaction" that converts a delta-heavy table
        back to one-row-per-key layout. Returns the number of buckets
        rewritten. Single-file buckets are skipped: every committed file
        is one-row-per-key BY CONSTRUCTION (merge outputs are in-batch
        LWW-deduped, maintenance outputs are reduced rewrites), so only
        multi-file buckets can hold cross-file key overlap. The
        merge-on-read marker clears when no multi-file bucket remains.

        ``max_buckets``: bound one call to the N most delta-pressured
        buckets — INCREMENTAL maintenance. A full-table rewrite can never
        win the commit race against a hot stream (every trigger touches
        most buckets and invalidates it); a bounded slice finishes inside
        the trigger interval, lands via the disjoint-bucket rebase or a
        cheap recompute, and converges over successive calls while
        keeping per-bucket read amplification bounded. The marker stays
        set until a call completes the remainder.

        A resolve that COMPLETES the table (no pressured bucket left out)
        also rebuilds the Bloom seen-set when the table has lost it (MOR
        commits drop the sidecar) — restoring the pure-insert fast path
        for later batches; incomplete slices never claim full key
        coverage, so they leave the sidecar alone."""
        m = self.manifest()
        if not m.needs_reduce:
            return 0
        pressured = sorted(
            ((int(b), len(fl)) for b, fl in m.files.items() if len(fl) > 1),
            key=lambda t: -t[1],
        )
        chosen = [b for b, _ in pressured]
        if max_buckets is not None:
            chosen = chosen[:max_buckets]
        complete = len(chosen) == len(pressured)
        if not chosen:
            self.commit_version(
                {}, [], None, None, needs_reduce=False,
                expected_version=m.version, on_conflict="rebase", key_neutral=True,
            )
            return 0
        rows = self.read_storage(spark, chosen, reduced=True)
        new_bloom = None
        if complete and self.load_bloom() is None:
            from etl_spark.cdc.bloom import build_bloom

            new_bloom = build_bloom(
                self.read_storage(spark, None, reduced=True), list(KEY_COLS)
            )
        files = self.write_bucket_files(
            rows, version_tag=f"resolve{m.version + 1}", cluster_sort=True
        )
        self.commit_version(
            files, chosen, None, None,
            needs_reduce=False if complete else None,
            expected_version=m.version, on_conflict="rebase",
            new_bloom=new_bloom, key_neutral=True,
        )
        return len(chosen)

    @_retry_on_conflict
    def cluster_time_slices(self, spark: SparkSession, slices: int = 8) -> int:
        """Time-sliced maintenance rewrite: re-layout every data bucket
        into ~``slices`` files of CONTIGUOUS event-time range — the
        ``days(ts)``-style secondary clustering of an Iceberg
        ``bucket(conv_id) + days(ts)`` spec, realized as a sort order
        (one range exchange on (bucket, ts)) instead of a partition-spec
        change, so the bucket layout, key→bucket routing, and every
        pinned snapshot stay untouched.

        After it, ``read_between`` skips whole files inside every bucket
        (manifest ts min/max per file are tight and non-overlapping) —
        compaction's one-file-per-bucket layout can only prune at row-group
        granularity. Trade-off, documented rather than hidden: per-file
        conv_id ranges widen (a slice holds every conversation active in
        its window), so ``point_read`` scans ~``slices`` files of one
        bucket instead of one. Pick the rewrite per workload — key-serving
        tables keep ``compact_small_files`` (conv-sorted), time-range-heavy
        tables use this; both commit through the same atomic snapshot path.

        Returns the number of buckets rewritten. LWW deltas are collapsed
        on the way (the table leaves merge-on-read state, like
        resolve_deltas)."""
        m = self.manifest()
        buckets = [int(b) for b, fl in m.files.items() if fl]
        if not buckets:
            return 0
        if slices < 1:
            raise ValueError(f"slices must be >= 1, got {slices}")
        rows = self.read_storage(spark, buckets, reduced=m.needs_reduce)
        # scans every key anyway — rebuild a lost seen-set for free, same
        # rationale as resolve_deltas (pure-MOR tables drop the sidecar)
        new_bloom = None
        if self.load_bloom() is None:
            from etl_spark.cdc.bloom import build_bloom
            from etl_spark.schema import KEY_COLS

            new_bloom = build_bloom(rows, list(KEY_COLS))
        sliced = rows.withColumn("__bucket", self.bucket_expr()).repartitionByRange(
            max(1, len(buckets) * slices), F.col("__bucket"), F.col("ts")
        )
        files = self.write_bucket_files(
            sliced,
            version_tag=f"timeslice{m.version + 1}",
            pre_clustered=True,   # the range exchange IS the clustering
            cluster_sort=True,    # tight conv row-group stats within a slice
        )
        self.commit_version(
            files, buckets, None, None, needs_reduce=False,
            expected_version=m.version, on_conflict="rebase", new_bloom=new_bloom, key_neutral=True,
        )
        return len(buckets)

    @_retry_on_conflict
    def cluster_zorder(
        self,
        spark: SparkSession,
        files_per_bucket: int = 8,
        bits: int = 4,
        sample_rows: int = 20_000,
        seed: int = 42,
    ) -> int:
        """Z-order maintenance rewrite (Delta ``OPTIMIZE ZORDER BY
        (conv_id, ts)`` analog): re-layout every bucket along a Morton
        curve over the table's TWO pruned dimensions, so ONE layout
        serves both access paths — ``point_read`` (conv_id equality)
        and ``read_between`` (ts range) each skip a large fraction of
        files, instead of choosing between ``compact_small_files``
        (conv-tight, ts-blind) and ``cluster_time_slices`` (ts-tight,
        conv-blind). Classic z-order trade: each dimension prunes to
        roughly sqrt(files) instead of one dimension pruning to one
        file — pick per workload.

        Mechanics (all misuse of the existing machinery avoided — the
        same file stats, pruning planners, and atomic commit path are
        reused untouched):

        1. Per-dimension rank codes from SAMPLED quantile boundaries
           (2^bits - 1 cut points; sampling keeps the boundary job
           O(sample) like Spark's own RangePartitioner). Quantile
           ranks, not min-max scaling — robust to skew and to common
           prefixes in string keys.
        2. Codes interleave into a 2*bits-bit z-value as a pure
           column expression (codegen; no UDF).
        3. One range exchange on (bucket, z) into ~files_per_bucket
           files per bucket, z-sorted within files so row-group stats
           stay tight too; manifest file stats then carry compact
           [conv_min, conv_max] x [ts_min, ts_max] rectangles that
           ``plan_point_lookup`` and ``read_between`` prune with
           as-is.

        LWW deltas are collapsed on the way (leaves merge-on-read
        state), and a lost Bloom seen-set is rebuilt for free — same
        contract as resolve_deltas/cluster_time_slices. Returns the
        number of buckets rewritten."""
        if bits < 1 or bits > 8:
            raise ValueError(f"bits must be 1..8, got {bits}")
        m = self.manifest()
        buckets = [int(b) for b, fl in m.files.items() if fl]
        if not buckets:
            return 0
        rows = self.read_storage(spark, buckets, reduced=m.needs_reduce)
        new_bloom = None
        if self.load_bloom() is None:
            from etl_spark.cdc.bloom import build_bloom
            from etl_spark.schema import KEY_COLS

            new_bloom = build_bloom(rows, list(KEY_COLS))
        # --- 1. sampled quantile boundaries per dimension -----------------
        total = sum(
            fe["rows"] for fl in m.files.values() for fe in fl
            if fe.get("rows") is not None
        ) or 1
        frac = min(1.0, sample_rows / total)
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        sample = (
            rows.select(F.col("conv_id").alias("c"), ts_us.alias("t"))
            .sample(False, frac, seed)
            .collect()
        )
        if not sample:  # tiny table: degenerate single-cell curve is fine
            sample = rows.select(
                F.col("conv_id").alias("c"), ts_us.alias("t")
            ).limit(1).collect()
        n_cells = 1 << bits

        def _cuts(vals: list) -> list:
            vals = sorted(v for v in vals if v is not None)
            if not vals:
                return []
            return sorted(
                {vals[min(len(vals) - 1, (i * len(vals)) // n_cells)]
                 for i in range(1, n_cells)}
            )

        conv_cuts = _cuts([r["c"] for r in sample])
        ts_cuts = _cuts([r["t"] for r in sample])

        def _code(col: F.Column, cuts: list, lit) -> F.Column:
            # rank = #cuts strictly below the value: 15 codegen comparisons
            code = F.lit(0)
            for cut in cuts:
                code = code + F.when(col > lit(cut), 1).otherwise(0)
            return code

        c_code = _code(F.col("conv_id"), conv_cuts, F.lit)
        t_code = _code(ts_us, ts_cuts, F.lit)
        # --- 2. Morton interleave: conv bits high, ts bits low ------------
        z = F.lit(0)
        for j in range(bits):
            z = (
                z.bitwiseOR(
                    F.shiftleft(F.shiftright(c_code, j).bitwiseAND(F.lit(1)), 2 * j + 1)
                ).bitwiseOR(
                    F.shiftleft(F.shiftright(t_code, j).bitwiseAND(F.lit(1)), 2 * j)
                )
            )
        # --- 3. one range exchange, z-sorted files, same commit path ------
        curved = (
            rows.withColumn("__bucket", self.bucket_expr())
            .withColumn("__z", z)
            .repartitionByRange(
                max(1, len(buckets) * files_per_bucket),
                F.col("__bucket"), F.col("__z"),
            )
            .sortWithinPartitions("__bucket", "__z", "conv_id", "turn_idx")
            .drop("__z")
        )
        files = self.write_bucket_files(
            curved, version_tag=f"zorder{m.version + 1}", pre_clustered=True
        )
        self.commit_version(
            files, buckets, None, None, needs_reduce=False,
            expected_version=m.version, on_conflict="rebase", new_bloom=new_bloom, key_neutral=True,
        )
        return len(buckets)

    @_retry_on_conflict
    def maybe_rebucket(
        self,
        spark: SparkSession,
        max_rows_per_bucket: int = 50_000_000,
        factor: int = 4,
    ) -> int:
        """Bucket-count evolution POLICY: widen the layout when the
        average bucket has outgrown ``max_rows_per_bucket`` (from manifest
        row counts — no scan). Returns the new bucket count, or 0 when the
        layout is still adequate. The count multiplies by ``factor`` until
        the average fits, so repeated calls are idempotent until the next
        growth epoch.

        Run this from a maintenance window, not the streaming loop: a
        rebucket is a full-table rewrite, and its commit can never rebase
        over concurrent writers (file→bucket assignment changes) — the
        conflict-retry decorator re-enters it, but a never-idle stream
        should be paused or the rewrite will retry-then-surface. Sizing
        intuition at 10^10 events: buckets bound write fan-out and merge
        shuffle width, so the policy keeps per-bucket work constant as
        the table grows instead of letting one bucket's files balloon."""
        m = self.manifest()
        total = sum(
            int(fe.get("rows") or 0) for fl in m.files.values() for fe in fl
        )
        if total <= max_rows_per_bucket * m.n_buckets:
            return 0
        target = m.n_buckets * factor
        while total > max_rows_per_bucket * target:
            target *= factor
        self.rebucket(spark, target)
        return target

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Bucket-count evolution (Iceberg partition-spec-evolution analog):
        rewrite the whole table into a ``bucket(new_n_buckets, conv_id)``
        layout in one distributed pass — scan, optional LWW reduce, one
        exchange on the new bucket, bucket-partitioned write — and commit
        it as a new snapshot. Old snapshots keep their layout and count, so
        time-travel reads are unaffected.

        This is how a table outgrows its write parallelism at 10^10 scale:
        the bucket count bounds write fan-out, merge shuffle width, and the
        number of files a MOR read merges per key — a table created at 64
        buckets cannot feed 1000 executors until it is rebucketed. Key set
        and the key-level Bloom seen-set are unchanged (tombstones are
        carried over verbatim). Returns the number of buckets in the new
        layout that hold data."""
        m = self.manifest()
        if new_n_buckets == m.n_buckets:
            return 0
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        rows = self.read_storage(spark, reduced=m.needs_reduce)
        files = self.write_bucket_files(
            rows,
            version_tag=f"rebucket{m.version + 1}",
            n_buckets=new_n_buckets,
        )
        # replace every bucket id of BOTH layouts: old ids not present in
        # the new layout must be cleared from the manifest
        touched = sorted(
            {int(b) for b in m.files} | set(files.keys())
        )
        self.commit_version(
            files,
            touched,
            None,
            None,
            needs_reduce=False,
            new_n_buckets=new_n_buckets,
            expected_version=m.version,
            key_neutral=True,
        )
        return len([b for b, fl in files.items() if fl])

    def rollback(self, to_version: int) -> Manifest:
        """Iceberg-style rollback: commit a NEW snapshot whose content is
        an exact copy of a retained older snapshot. History stays linear
        (versions keep increasing; time travel to the undone versions
        still works until they expire) and the undo is itself undoable.
        The batch/segment idempotence ledger reverts WITH the content:
        feed segments applied after ``to_version`` are no longer "seen",
        so re-replaying the feed re-applies exactly the undone batches —
        rollback + replay is the disaster-recovery path (Iceberg analog:
        ``rollback_to_snapshot``). Goes through the same exclusive-create
        commit gate as every writer, so it cannot clobber a concurrent
        commit."""
        self._require_published_view("rollback")
        cur = self.manifest()
        if to_version == cur.version:
            return cur
        if to_version not in self.versions():
            raise ValueError(
                f"cannot rollback to v{to_version}: not a retained "
                f"committed snapshot (retained: {self.versions()})"
            )
        old = self.manifest(to_version)
        from dataclasses import replace as _dc_replace

        m = _dc_replace(
            old,
            version=cur.version + 1,
            parent=cur.version,
            created_unix=time.time(),
        )
        self._write_manifest(m)
        return m

    # ------------------------------------------------------- constraints
    def constraints(self) -> dict[str, dict[str, str]]:
        """Declared row expectations: name -> {expr, policy}."""
        return dict(self.manifest().constraints or {})

    def add_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        policy: str = "fail",
        validate: bool = True,
    ) -> Manifest:
        """Declare a CHECK-style expectation on ingested rows (Delta
        ``ADD CONSTRAINT`` / DLT expectations analog; the reference's
        equivalent is each parser's per-datatype row validation,
        /root/reference/parser/*.go, which it can only hard-code — a
        standalone engine lets the operator declare it per table).

        ``expr`` is a SQL boolean over the USER columns; SQL CHECK
        semantics: a row violates only when the expression IS FALSE
        (NULL passes). ``policy`` decides what the ingest path does
        with violating upsert payloads (tombstones and sparse patches
        are exempt — their NULLs mean "absent", not "invalid"):

        * ``fail`` — any violation aborts the whole batch before any
          write (zero-tolerance; the batch's own fail budget does not
          apply).
        * ``drop`` — violating rows are counted ``failed``, routed to
          the quarantine (reason ``constraint:<name>``), and excluded;
          the normal error budget still failfasts the batch if too
          many rows violate.
        * ``warn`` — violations are only counted
          (``MergeStats.constraint_warns``); rows still apply.

        With ``validate=True`` (default, like Delta) the CURRENT table
        contents must already satisfy the expression."""
        if policy not in ("fail", "drop", "warn"):
            raise ValueError(f"policy must be fail|drop|warn, got {policy!r}")
        import re as _re

        if not _re.fullmatch(r"[A-Za-z][A-Za-z0-9_\-]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        # compile check against the user schema (analysis only, no job)
        probe = spark.createDataFrame([], self.user_schema())
        try:
            dt = probe.select(F.expr(expr).alias("c")).schema["c"].dataType
        except Exception as e:
            raise ValueError(f"constraint {name!r} does not compile: {e}") from None
        if dt.typeName() != "boolean":
            raise ValueError(
                f"constraint {name!r} must be a boolean expression, got {dt.simpleString()}"
            )
        if validate and self.has_files():
            n_viol = (
                self.read(spark)
                .filter(F.expr(expr).eqNullSafe(F.lit(False)))
                .limit(1)
                .count()
            )
            if n_viol:
                raise ValueError(
                    f"cannot add constraint {name!r}: existing rows violate "
                    f"({expr}); fix the data or pass validate=False"
                )
        from dataclasses import replace as _dc_replace

        m = self.manifest()
        cons = dict(m.constraints or {})
        cons[name] = {"expr": expr, "policy": policy}
        nm = _dc_replace(
            m,
            version=m.version + 1,
            parent=m.version,
            created_unix=time.time(),
            constraints=cons,
        )
        self._write_manifest(nm)
        return nm

    def rename_column(self, spark: SparkSession, old: str, new: str) -> Manifest:
        """Rename a payload column WITHOUT rewriting any data file — the
        Iceberg field-ID rename, realized name-wise: the new schema era
        carries the new name, old-era files keep theirs, and the
        era-aligned scan resolves current->historic through the
        manifest's cumulative rename map. O(1) metadata commit at any
        table size.

        Key columns (conv_id, turn_idx), ts, and system columns are not
        renamable — they are the merge keys, file-stat columns, and
        engine plumbing. Declared constraints must not reference the old
        name (they are SQL strings; refuse rather than let the next
        batch fail at enforcement time). Writers must use the new name
        from the next batch on (an old-name feed would null-pad, same
        contract as Iceberg after RENAME COLUMN)."""
        from etl_spark.schema import SYSTEM_COLS

        protected = set(KEY_COLS) | set(SYSTEM_COLS) | {"ts"}
        if old in protected:
            raise ValueError(f"column {old!r} is engine-protected, not renamable")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        if new in protected:
            raise ValueError(f"{new!r} collides with an engine column")
        m = self.manifest()
        sch = schema_from_json(m.schema_json)
        names = [f.name for f in sch.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        # a new name that any HISTORIC era physically stores (or that the
        # rename map already uses as a source) would make old-era reads
        # ambiguous: the era's physical column named `new` belongs to a
        # different (renamed-away or dropped) lineage, and serving it
        # under the new current name resurrects stale data — the same
        # class of bug the drop_column alias-kill guards against
        for sid, sj in (m.schemas or {}).items():
            hist = [f.name for f in schema_from_json(sj).fields]
            if new in hist and sid != m.current_schema_id:
                raise ValueError(
                    f"{new!r} was a column name in historic schema era "
                    f"{sid}; reusing it would misattribute old files' "
                    f"data — pick a fresh name"
                )
        if new in (m.renames or {}):
            raise ValueError(
                f"{new!r} is a historic source name in the rename map; "
                f"reusing it would misattribute old files' data"
            )
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old else f
                for f in sch.fields
            ]
        )
        # constraints are SQL strings over the user schema: refuse the
        # rename while any of them no longer compiles against the result
        probe = spark.createDataFrame([], new_schema)
        for cname, c in (m.constraints or {}).items():
            try:
                probe.select(F.expr(c["expr"])).schema  # noqa: B018
            except Exception:
                raise ValueError(
                    f"constraint {cname!r} references {old!r} "
                    f"({c['expr']}); drop or re-declare it first"
                ) from None
        renames = dict(m.renames or {})
        for k, v in list(renames.items()):
            if v == old:
                renames[k] = new
        renames[old] = new
        return self._commit_schema_ddl(m, new_schema, renames=renames)

    def add_column(
        self, name: str, dtype: str, comment: str | None = None
    ) -> Manifest:
        """Explicit ADD COLUMN (nullable) — the DDL form of the widening
        evolution the merge path already performs implicitly when a batch
        arrives with a new field. O(1) metadata commit: old-era files
        simply null-pad on read."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid column name {name!r}")
        from etl_spark.schema import SYSTEM_COLS

        if name in SYSTEM_COLS:
            raise ValueError(f"{name!r} collides with an engine column")
        m = self.manifest()
        sch = schema_from_json(m.schema_json)
        if name in [f.name for f in sch.fields]:
            raise ValueError(f"column {name!r} already exists")
        if name in (m.renames or {}):
            # the rename map still resolves this name in old-era files to
            # ANOTHER column's lineage; a new column with the same name
            # would have its new-era data shadowed by that mapping
            raise ValueError(
                f"{name!r} is a historic source name in the rename map "
                f"(renamed to {m.renames[name]!r}); pick a fresh name"
            )
        scalar_types = {
            "string": T.StringType(), "int": T.IntegerType(),
            "integer": T.IntegerType(), "long": T.LongType(),
            "bigint": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "boolean": T.BooleanType(),
            "date": T.DateType(), "timestamp": T.TimestampType(),
            "timestamp_ntz": T.TimestampNTZType(), "binary": T.BinaryType(),
        }
        dt = scalar_types.get(dtype.lower())
        if dt is None:
            raise ValueError(
                f"unsupported DDL type {dtype!r} (one of {sorted(scalar_types)}); "
                "complex types arrive via batch-schema evolution instead"
            )
        meta = {"comment": comment} if comment else None
        new_schema = T.StructType(
            list(sch.fields) + [T.StructField(name, dt, True, metadata=meta)]
        )
        return self._commit_schema_ddl(m, new_schema)

    def drop_column(self, name: str) -> Manifest:
        """Logical DROP COLUMN without rewriting any data file: the new
        schema era omits the field; the era-aligned scan projects only
        current columns, so old files' extra data is simply never
        selected. Time travel to pre-drop snapshots still shows it.
        Key/ts/system columns are protected; declared constraints
        referencing the column block the drop (fail at DDL time)."""
        from etl_spark.schema import SYSTEM_COLS

        protected = set(KEY_COLS) | set(SYSTEM_COLS) | {"ts"}
        if name in protected:
            raise ValueError(f"column {name!r} is engine-protected, not droppable")
        m = self.manifest()
        sch = schema_from_json(m.schema_json)
        if name not in [f.name for f in sch.fields]:
            raise ValueError(f"no column {name!r}")
        for cname, c in (m.constraints or {}).items():
            # cheap, conservative: a constraint whose expression mentions
            # the identifier blocks the drop (re-declare it first)
            if re.search(rf"\b{re.escape(name)}\b", c["expr"]):
                raise ValueError(
                    f"constraint {cname!r} references {name!r} "
                    f"({c['expr']}); drop or re-declare it first"
                )
        new_schema = T.StructType([f for f in sch.fields if f.name != name])
        # a historic rename pointing at the dropped column must not
        # resurrect old-era data into a future column of the same name
        renames = {
            k: v for k, v in (m.renames or {}).items() if v != name
        } or None
        return self._commit_schema_ddl(m, new_schema, renames=renames)

    def _commit_schema_ddl(
        self, m: Manifest, new_schema: T.StructType, renames=_SENTINEL
    ) -> Manifest:
        from dataclasses import replace as _dc_replace

        schemas = dict(m.schemas)
        sid = str(len(schemas))
        schemas[sid] = new_schema.json()
        nm = _dc_replace(
            m,
            version=m.version + 1,
            parent=m.version,
            created_unix=time.time(),
            schema_json=new_schema.json(),
            schemas=schemas,
            current_schema_id=sid,
            renames=m.renames if renames is _SENTINEL else renames,
        )
        self._write_manifest(nm)
        return nm

    def drop_constraint(self, name: str) -> Manifest:
        from dataclasses import replace as _dc_replace

        m = self.manifest()
        cons = dict(m.constraints or {})
        if name not in cons:
            raise KeyError(f"no constraint named {name!r}")
        del cons[name]
        nm = _dc_replace(
            m,
            version=m.version + 1,
            parent=m.version,
            created_unix=time.time(),
            constraints=cons or None,
        )
        self._write_manifest(nm)
        return nm

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_sec: float = 3600.0
    ) -> int:
        """Drop all but the newest ``keep_last`` manifest versions and
        physically delete data/bloom files referenced ONLY by expired
        versions. Returns the number of data files deleted. Iceberg analog:
        expire_snapshots. Time travel remains valid for retained versions;
        tagged snapshots and snapshots staged on live branches are never
        expired.

        ``orphan_grace_sec``: never-referenced version dirs (crashed
        commits, failfast aborts, OCC-losing recompute attempts) are swept
        only once older than this — an IN-FLIGHT concurrent writer's
        files-written-but-not-yet-committed dir looks identical to an
        orphan (Iceberg remove_orphan_files has the same age guard). Pass
        0 in single-writer maintenance windows to collect everything."""
        self._require_published_view("expire_snapshots")
        cur = self.manifest().version
        # snapshots staged on LIVE branches sit above the published version
        # — walk each branch head's parent chain down to the published
        # frontier; those manifests (and their files) are protected
        staged: set[int] = set()
        for head_v in self.list_branches().values():
            v = head_v
            while v > cur and v not in staged:
                staged.add(v)
                try:
                    p = self.manifest(v).parent
                except ValueError:
                    break
                if p is None:
                    break
                v = p
        # crash recovery: a manifest newer than the current pointer and on
        # NO live branch is an orphan of a writer killed between manifest
        # create and pointer swap, or of a dropped branch (it blocks the
        # next commit's exclusive create). Expiry runs in a
        # no-concurrent-writer window by contract, so removing it here is
        # safe; its data files are collected as unreferenced below.
        mdir = os.path.join(self.path, MANIFEST_DIR)
        for fn in list(os.listdir(mdir)):
            if fn.startswith("v") and fn.endswith(".json"):
                v = int(fn[1:-5])
                if v > cur and v not in staged:
                    os.remove(os.path.join(mdir, fn))
        versions = self.versions()
        keep_v = set(versions[-keep_last:]) if len(versions) > keep_last else set(versions)
        keep_v.add(cur)  # never expire the committed snapshot
        keep_v.update(self.list_tags().values())  # tags pin their snapshot

        def refs(m: Manifest) -> set[str]:
            out = set()
            for fl in m.files.values():
                for fe in fl:
                    out.add(fe["path"])
                    if fe.get("vb"):
                        out.add(fe["vb"]["path"])
            if m.bloom:
                out.add(m.bloom["path"])
            if m.ledger:
                out.add(m.ledger["path"])
            return out

        live: set[str] = set()
        for v in keep_v | staged:
            live |= refs(self.manifest(v))
        dead: set[str] = set()
        for v in versions:
            if v not in keep_v:
                dead |= refs(self.manifest(v))
        dead -= live
        # Manifests first: they are the visibility root. A crash between
        # the two loops then leaves unreferenced-but-present files (safe,
        # re-collectable on the next call) instead of listed-but-deleted
        # versions whose time-travel reads would FileNotFound mid-scan.
        for v in versions:
            if v not in keep_v:
                os.remove(os.path.join(self.path, MANIFEST_DIR, f"v{v:08d}.json"))
        n_deleted = 0
        for rel in dead:
            full = os.path.join(self.path, rel)
            if os.path.exists(full):
                os.remove(full)
                n_deleted += 1
            # prune now-empty version directories
            d = os.path.dirname(full)
            if os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
        # orphan-file sweep: data version-dirs referenced by NO retained
        # manifest — left by crashed commits and failfast-aborted batches
        # (which write files but never swap the pointer)
        import shutil

        live_dirs = {rel.split("/")[1] for rel in live if rel.startswith("data/")}
        data_dir = os.path.join(self.path, "data")
        now = time.time()
        for d in list(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
            full = os.path.join(data_dir, d)
            if d not in live_dirs and os.path.isdir(full):
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age < orphan_grace_sec:
                    continue  # possibly an in-flight writer's staging dir
                n_deleted += sum(len(fs) for _, _, fs in os.walk(full))
                shutil.rmtree(full, ignore_errors=True)
        # bloom sidecars of crashed/OCC-losing writers: referenced by no
        # retained manifest (the dead set only covers refs of EXPIRED
        # retained versions, not never-committed writes)
        live_blooms = {os.path.basename(rel) for rel in live if "bloom-" in rel}
        for fn in list(os.listdir(mdir)):
            if fn.startswith("bloom-") and fn not in live_blooms:
                os.remove(os.path.join(mdir, fn))
                n_deleted += 1
        # ledger-snapshot files of expired or crashed/OCC-losing writers
        live_ledgers = {os.path.basename(rel) for rel in live if "ledger-" in rel}
        for fn in list(os.listdir(mdir)):
            if fn.startswith("ledger-") and fn not in live_ledgers:
                os.remove(os.path.join(mdir, fn))
                n_deleted += 1
        return n_deleted

    # ------------------------------------------------------------ data write
    def next_schema_id(self, user_schema: T.StructType) -> str:
        """The era id commit_version WILL assign if committing this schema."""
        m = self.manifest()
        if user_schema.json() == m.schema_json:
            return m.current_schema_id
        return str(len(m.schemas))

    def write_bucket_files(
        self,
        storage_df: DataFrame,
        version_tag: str,
        schema_id: str | None = None,
        pre_clustered: bool = False,
        n_buckets: int | None = None,
        cluster_sort: bool = False,
    ) -> dict[int, list[dict[str, Any]]]:
        """Write storage rows partitioned by bucket under a unique version
        dir; return the per-bucket file entries for the manifest. Files are
        invisible until commit_version swaps the pointer.

        ``pre_clustered``: the caller guarantees rows are already clustered
        by bucket (e.g. the dedup exchange was keyed on the bucket), so the
        write-side exchange is skipped — partitionBy then writes ~one file
        per bucket straight from the incoming partitions.

        ``cluster_sort``: additionally sort rows inside each task by
        (conv_id, turn_idx) before writing, so parquet row groups carry
        tight, non-overlapping conv_id min/max ranges — maintenance
        rewrites (compaction / resolve / rebucket) use this to make the
        manifest file stats and row-group pruning maximally selective
        (Iceberg analog: a sort order on the rewrite spec)."""
        m = self.manifest()
        sid = schema_id if schema_id is not None else m.current_schema_id
        vdir_rel = os.path.join("data", f"{version_tag}-{uuid.uuid4().hex[:8]}")
        vdir = os.path.join(self.path, vdir_rel)
        df = storage_df.withColumn(
            "__bucket", self.bucket_expr(n_buckets=n_buckets)
        )
        if not pre_clustered:
            # ~one file per bucket: cluster rows of a bucket into the same task
            df = df.repartition(F.col("__bucket"))
        if cluster_sort:
            df = df.sortWithinPartitions("__bucket", "conv_id", "turn_idx")
        # 32 MiB row groups: a task whose shuffle partition spans several
        # buckets holds one open ParquetRecordWriter per bucket dir, and the
        # default 128 MiB block buffer × open-writers × concurrent-tasks is
        # exactly the heap spike that stalls small-heap executors mid-write
        # (micro-batch delta files are bucket-sized, never 128 MiB row-group
        # material; compaction rewrites them with default blocks later)
        df.write.option("parquet.block.size", str(32 * 1024 * 1024)).partitionBy(
            "__bucket"
        ).mode("overwrite").parquet(vdir)
        out: dict[int, list[dict[str, Any]]] = {}
        if not os.path.isdir(vdir):
            return out
        todo: list[tuple[int, str]] = []
        for d in os.listdir(vdir):
            if not d.startswith("__bucket="):
                continue
            b = int(d.split("=", 1)[1])
            out[b] = []
            for fn in os.listdir(os.path.join(vdir, d)):
                if fn.endswith(".parquet"):
                    todo.append((b, os.path.join(vdir_rel, d, fn)))

        def _entry(rel: str) -> dict[str, Any]:
            st = self._file_stats(rel)
            entry = {
                "path": rel,
                "schema_id": sid,
                "rows": st.pop("rows"),
                "stats": st,
            }
            vb = self._write_value_bloom_sidecar(rel, m.skip_blooms)
            if vb:
                entry["vb"] = vb
            return entry

        # footer stats + bloom sidecars for the NEW files, in parallel:
        # pyarrow releases the GIL on reads, so a small pool turns this
        # from serial per-file driver I/O into ~one round trip (a wide
        # commit lands hundreds of files; on a real cluster the writer
        # tasks would compute these, the format is identical either way)
        if len(todo) > 3:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as pool:
                entries = list(pool.map(lambda t: _entry(t[1]), todo))
        else:
            entries = [_entry(rel) for _, rel in todo]
        for (b, _), e in zip(todo, entries):
            out[b].append(e)
        return out

    def _write_value_bloom_sidecar(
        self, rel_path: str, cols: list[str] | None
    ) -> dict[str, Any] | None:
        """Summarize one new data file's declared skip columns into a
        bloom sidecar (<file>.vb.bin — all columns in one blob, offsets in
        the manifest entry). Runs where _file_stats runs: once per NEW
        file per commit, cost O(this batch's data), never O(table). On a
        real cluster this folds into the writer task; the format is the
        same either way. Sidecar bytes are invisible until the manifest
        commit references them — identical lifecycle to data files."""
        if not cols:
            return None
        import pyarrow.parquet as pq

        from etl_spark.cdc.bloom import (
            VALUE_BLOOM_ALGO, build_value_bloom,
        )

        abs_path = os.path.join(self.path, rel_path)
        have = pq.read_schema(abs_path).names
        present = [c for c in cols if c in have]
        if not present:
            return None  # old-era write lacking the column: never pruned
        tbl = pq.read_table(abs_path, columns=present)
        blobs: list[bytes] = []
        meta: dict[str, Any] = {}
        off = 0
        for c in present:
            bf = build_value_bloom(tbl.column(c).to_pandas())
            raw = bf.to_bytes()
            meta[c] = {"off": off, "m_bits": bf.m_bits, "k": bf.k}
            blobs.append(raw)
            off += len(raw)
        vb_rel = rel_path + ".vb.bin"
        tmp = os.path.join(self.path, vb_rel) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(b"".join(blobs))
        os.replace(tmp, os.path.join(self.path, vb_rel))
        return {"path": vb_rel, "algo": VALUE_BLOOM_ALGO, "cols": meta}
