"""Versioned snapshot tables: atomic commits + time travel on plain parquet.

The reference's curated zone is Delta (`src/requirements.txt:6`,
`src/glue_scripts/orders_etl.py:67-74`), whose `_delta_log` gives atomic
commits, snapshot-isolated readers, and time travel. delta-spark is not
installable in this environment, so this module provides the same
*protocol* shape with a JSON manifest log — the moral core of Delta/
Iceberg metadata layers, small enough to audit:

* Every commit writes its data files under a fresh immutable directory
  ``data/commit-<uuid>/`` — no file is ever rewritten in place.
* A commit is *published* by hard-linking a fully-written (and fsynced)
  temp file to ``_manifests/v<N>.json`` — an atomic create-if-absent
  whose name only ever appears with COMPLETE content, so a concurrent
  reader can never load a half-written manifest. Two concurrent writers
  racing for the same version: exactly one wins, the loser retries
  against the next version on top of the winner's manifest (optimistic
  concurrency, Delta-style; the object-store analog is an
  if-none-match PUT).
* Readers resolve ONE manifest and only read directories it lists —
  snapshot isolation: a concurrent commit can never produce a torn read,
  because published manifests and their data dirs are immutable.
* Time travel = reading an old manifest (``version=``).
* ``merge_commit`` publishes a MERGE upsert as the next version while
  rewriting only *affected* partitions — unaffected partitions carry
  forward as manifest references into older commit dirs, and concurrent
  merges touching disjoint partitions rebase instead of conflicting
  (Delta MERGE's touched-files behavior + write-conflict rules).

* ``commit(mode="append", merge_schema=True)`` evolves the schema by
  column addition (readers see null where a commit predates a column);
  ``compact`` is OPTIMIZE — rewrite the head's data into well-sized
  files as a data-identical next version, restarting if any commit
  lands mid-pass.
* **Data skipping**: ``stats_for`` records per-file min/max/null-count
  (footer metadata only) and ``bloom_for`` per-file Bloom filters in the
  manifest; ``read_where`` prunes files at planning time (two-level on
  partitioned tables: partition values, then file stats), ``cluster_by``
  Z-orders writes so stats bite on every cluster column, and
  ``table_stats`` answers COUNT/MIN/MAX with zero data-file I/O.
* **Hidden partitioning**: ``set_partition_transform`` declares
  days/bucket transforms; source-column predicates transpose onto the
  derived partition column automatically.
* ``restore`` republishes an old version as the head (metadata-only);
  ``clone`` creates an independent table referencing the source's dirs
  zero-copy; ``snapshot_diff`` serves CDF; ``delete_where`` is
  partition-scoped row DELETE; ``delete_where_dv`` / ``update_where_dv`` are row-level DELETE/UPDATE
  via deletion vectors (tombstone parquet readers anti-join at scan
  time — zero file rewrites, UPDATE appends only the rewritten rows,
  both cleared by ``compact``); CHECK constraints fail violating
  commits inside their own write.
* **Column mapping**: ``rename_column`` / ``drop_column`` are
  METADATA-ONLY (Delta's columnMapping name mode) — the manifest maps
  logical names onto unchanged physical file columns; EVERY read and
  write path (plain and partitioned MERGE/DELETE, replaceWhere,
  scoped OPTIMIZE, DV delete/update) translates at one seam
  (``_logical_select`` / ``_to_physical``), and ``compact``
  materializes the mapping away. The only refusal left is naming a
  MAPPED column as a new partition key (hive dir layouts can't carry
  a translation); a RENAME/DROP landing mid-write conflicts instead
  of publishing mislabeled files.

Commit protocol
---------------
Every writer publishes through ONE optimistic loop, ``_publish``. Each
attempt reads the head manifest once, refuses a RENAME/DROP COLUMN that
landed after the writer's data write, applies the writer's conflict
rule, and calls its ``build(head, head_manifest)``, which returns only
what differs (a ``_Change``). One rule each then derives the rest: the
writer's named stats/bloom columns, else the table's (kept files carry
their sidecar entries by name, fresh files get new sidecars); deletion
vectors carry while any head file stays; NDV sketches survive only
when the writer hands them over; the column mapping is the head's
unless the writer sets it. A lost race deletes that attempt's orphan
dirs and retries; a conflict raises ``WriteConflict``:

  ====================================  ================================
  writer                                when another commit lands first
  ====================================  ================================
  commit, restore                       retry on top of the winner
  merge_commit, delete_where            rebase if the partition sets are
  (partition-granular), compact_where   disjoint, else conflict
  merge_commit, delete_where (plain)    conflict
  delete_where_dv, delete_matching_dv,  re-evaluate against the new head
  update_where_dv, replace_where_commit
  compact                               restart the rewrite
  clone, rename_column, drop_column     conflict
  ====================================  ================================

(``compact_where`` restarts its scoped rewrite on a conflict.)

Scale notes: the manifest lists commit *directories*, not individual
files, so manifest size grows with commit count, not data size; the
per-FILE metadata (stats/blooms/dv-dead counts) lives in immutable
SIDECAR files the manifest references by name, so a commit serializes
only the entries for files it touched — publish cost is O(files
touched), never O(table files) (see the sidecar section below).
`vacuum` bounds history and GCs unreferenced sidecars. At real scale
the manifest store moves from a local dir to an object store with
if-none-match puts — same protocol, one I/O primitive swapped.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_MANIFESTS = "_manifests"
_DATA = "data"


@dataclass(frozen=True)
class Snapshot:
    version: int
    dirs: list[str]
    schema_json: str
    committed_at: float
    # partition-granular entries for merge-committed tables:
    # {partition-values-tuple-json: dir}; plain commits leave it empty
    part_entries: dict[str, str] | None = None
    # partition column names for merge-committed tables (for maintenance
    # ops like compact() that need to re-derive the layout)
    partition_by: list[str] | None = None
    # per-data-file column statistics for planning-time skipping:
    # {file_path: {"rows": n, "cols": {col: {"min","max","nulls"}}}}.
    # Stored in SIDECAR files, not the manifest (see module notes);
    # surfaced here as a lazy Mapping merged on first access.
    file_stats: Mapping | None = None
    # which columns stats were collected for (compact() re-collects them)
    stats_cols: list[str] | None = None
    # per-file Bloom filters for point-lookup skipping:
    # {file_path: {col: {"m", "k", "bits"}}} — sidecar-backed lazy
    # Mapping, like file_stats
    file_blooms: Mapping | None = None
    bloom_cols: list[str] | None = None
    # deletion vectors (row-level DELETE without file rewrites): parquet
    # dirs of (file, row_idx) tombstones readers anti-join at scan time
    dv_files: list[str] | None = None
    # per-data-file tombstone counts {_metadata-format path: n_dead},
    # recorded at delete time so metadata-only COUNT stays exact under
    # DVs (footer rows − dead rows of files still live in the snapshot)
    dv_dead: dict | None = None
    # which operation produced this version (DESCRIBE HISTORY surface):
    # WRITE/APPEND/MERGE/DELETE/UPDATE/OPTIMIZE/RESTORE/CLONE
    op: str | None = None
    # operation metrics stamped at commit time (Delta's operationMetrics
    # analog): {"num_files_added", "num_output_rows",
    # "num_deleted_rows", ...} — footer/manifest-derived counts only,
    # never an extra data scan
    metrics: dict | None = None
    # column mapping (Delta's columnMapping name mode): logical column
    # name -> PHYSICAL (on-disk) name, identity entries omitted. Set by
    # rename_column; every write keeps writing physical names so old
    # and new files agree; compact() materializes the mapping away.
    column_mapping: dict | None = None
    # physical names retired by drop_column — a re-added logical column
    # may never reuse one (old files would resurrect the dropped data)
    retired_physical: list | None = None


class VacuumedVersionError(ValueError):
    """A time-travel target (version or timestamp) that the retention
    policy already dropped: vacuum deleted its manifest, so the request
    is unserviceable BY DESIGN, not by accident. Raised at resolution
    time — callers never get as far as a scan that would die on missing
    data files deep inside Spark. Actionable: widen ``retention_hours``
    / ``keep_last`` before the next vacuum, or target a surviving
    version."""


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFESTS, f"v{version:012d}.json")


def _try_publish_manifest(path: str, version: int, manifest: dict) -> bool:
    """Atomically publish a manifest version; False if the version was
    taken (the optimistic-concurrency race check).

    The content is fully written and fsynced to a hidden temp file
    first, then hard-linked to the version name: link(2) fails with
    FileExistsError exactly like ``O_CREAT|O_EXCL``, but the name only
    ever appears with its content COMPLETE — a concurrent
    ``load_snapshot`` can never read a half-written manifest (the race
    a create-then-write publish loses). Temp files are dot-prefixed so
    ``_versions`` ignores them; the object-store analog is a
    single-shot if-none-match PUT, which has the same two properties.
    """
    mdir = os.path.join(path, _MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        try:
            os.link(tmp, _manifest_path(path, version))
        except FileExistsError:
            return False
        except OSError:
            # filesystems without hard links: O_CREAT|O_EXCL keeps the
            # loses-the-race semantics (two committers, one winner).
            # Unlike link(2) it does expose the name before content is
            # complete — a narrower guarantee, accepted only on
            # filesystems where the primary path is impossible. A soft
            # write failure (ENOSPC, ...) must not strand a truncated
            # manifest under the final name — that would brick every
            # subsequent load_snapshot AND every retry (EEXIST) — so
            # unlink before re-raising; only a hard crash mid-write can
            # still leave a torn head here.
            final = _manifest_path(path, version)
            try:
                fd = os.open(
                    final, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                return False
            try:
                with os.fdopen(fd, "w") as out:
                    json.dump(manifest, out)
                    out.flush()
                    os.fsync(out.fileno())
            except BaseException:
                try:
                    os.unlink(final)
                except OSError:
                    pass
                raise
        # fsync the directory entry: without this, a crash shortly after
        # publish can lose the name even though the caller saw the
        # commit succeed (acknowledged-commit loss) — the data was
        # fsync'd but the directory mutation wasn't
        dfd = os.open(mdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True
    finally:
        os.unlink(tmp)


def _versions(path: str) -> list[int]:
    mdir = os.path.join(path, _MANIFESTS)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


# ---------------------------------------------------------------------------
# Stats sidecars: per-file metadata outside the manifest, O(touched) commits
#
# A manifest does NOT inline the per-file stats / Bloom / dv-dead maps
# (that would make every publish re-serialize metadata for the whole
# table — O(table files) per commit, the write-path scale killer).
# Instead those maps live in immutable SIDECAR files under _manifests/
# (``sc-<uuid>.json``) and the manifest stores only their NAMES:
#
#   stats_sidecars: [name, ...]   entries merge left→right, later wins
#   bloom_sidecars: [name, ...]   same
#   dv_sidecars:    [name, ...]   entries are DELTAS and SUM (two deletes
#                                 may tombstone different rows of a file)
#
# A commit writes ONE new sidecar holding only the entries it produced
# and carries the predecessor's names verbatim — the same
# carry-by-reference discipline part_entries applies to data dirs — so
# commit metadata cost is O(files touched), never O(table). Ops that
# REMOVE files rewrite only the sidecars containing entries for the
# removed files. ``compact`` folds the whole log into fresh sidecars;
# past _SIDECAR_FOLD names the log folds into one checkpoint sidecar
# (Delta's checkpoint-every-N shape) so read amplification stays
# bounded. Names are manifest-relative, keeping tables relocatable.
# Pre-sidecar manifests with inline maps still load (and their inline
# maps migrate into a sidecar at the next touching commit).
# ---------------------------------------------------------------------------

_SIDECAR_FOLD = 64

_SC_INLINE = {"stats": "file_stats", "bloom": "file_blooms", "dv": "dv_dead"}
_SC_REFS = {"stats": "stats_sidecars", "bloom": "bloom_sidecars",
            "dv": "dv_sidecars"}


class _SidecarMap(Mapping):
    """Lazy merged view of per-file manifest entries (stats/blooms):
    the sidecar files are opened on FIRST real access, so snapshot
    loads on paths that never consult stats (plain reads, merges) pay
    zero stats I/O. A missing/corrupt sidecar fails open — its entries
    read as absent, which every consumer treats as 'cannot prune'."""

    def __init__(self, mdir: str, inline: dict | None, refs: list[str]):
        self._mdir = mdir
        self._inline = inline
        self._refs = refs
        self._merged: dict | None = None

    def _m(self) -> dict:
        if self._merged is None:
            out = dict(self._inline or {})
            for name in self._refs:
                try:
                    with open(os.path.join(self._mdir, name)) as f:
                        out.update(json.load(f))
                except (OSError, json.JSONDecodeError):
                    continue
            self._merged = out
        return self._merged

    def __getitem__(self, k):
        return self._m()[k]

    def __iter__(self):
        return iter(self._m())

    def __len__(self):
        return len(self._m())


def _write_sidecar(path: str, entries: dict) -> str:
    """Write an immutable sidecar map under ``_manifests/`` and return
    its NAME. Fresh uuid name — no publish race to lose; bytes are
    durable (fsync) before any manifest referencing the name can
    publish, so a reader never resolves a name to torn content."""
    mdir = os.path.join(path, _MANIFESTS)
    os.makedirs(mdir, exist_ok=True)
    name = f"sc-{uuid.uuid4().hex}.json"
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(entries, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(mdir, name))
    return name


def _next_sidecars(
    path: str,
    parent_manifest: dict | None,
    kind: str,
    keep=None,
    fresh=(),
) -> list[str]:
    """The next manifest's sidecar name list for ``kind`` in
    stats|bloom|dv. The parent's names whose every entry survives
    ``keep(key)`` ride by reference — zero rewrite; dirty sidecars are
    rewritten without the dead entries (together with a pre-sidecar
    parent's INLINE map, which migrates once); each non-empty map in
    ``fresh`` lands in its OWN new sidecar, never mixed into salvage —
    mixing would re-dirty the combined sidecar on every later op that
    touches any of its partitions. Publish cost = O(entries touched).
    dv entries are deltas that SUM; stats/blooms are later-wins. Past
    _SIDECAR_FOLD names the list folds into one checkpoint sidecar —
    amortized O(table)/_SIDECAR_FOLD per commit."""
    mdir = os.path.join(path, _MANIFESTS)
    m = parent_manifest or {}

    def _acc(dst: dict, src: dict) -> None:
        if kind == "dv":
            for k, v in src.items():
                dst[k] = dst.get(k, 0) + v
        else:
            dst.update(src)

    out: list[str] = []
    inline = m.get(_SC_INLINE[kind]) or {}
    salvage = {k: v for k, v in inline.items() if keep is None or keep(k)}
    for name in m.get(_SC_REFS[kind]) or []:
        if keep is None:
            out.append(name)
            continue
        try:
            with open(os.path.join(mdir, name)) as f:
                ent = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue  # vacuumed/corrupt: entries were already fail-open
        if all(keep(k) for k in ent):
            out.append(name)
        else:
            _acc(salvage, {k: v for k, v in ent.items() if keep(k)})
    if salvage:
        out.append(_write_sidecar(path, salvage))
    out += [_write_sidecar(path, ent) for ent in fresh if ent]
    if len(out) > _SIDECAR_FOLD:
        whole: dict = {}
        for name in out:
            try:
                with open(os.path.join(mdir, name)) as f:
                    _acc(whole, json.load(f))
            except (OSError, json.JSONDecodeError):
                continue
        out = [_write_sidecar(path, whole)] if whole else []
    return out


def _read_manifest(path: str, v: int) -> dict:
    with open(_manifest_path(path, v)) as f:
        try:
            return json.load(f)
        except json.JSONDecodeError as e:
            raise RuntimeError(
                f"manifest v{v} at {path} is torn/unreadable — a "
                "publish crashed mid-write (possible only on the "
                "no-hardlink fallback path); delete "
                f"{_manifest_path(path, v)} to expose the previous "
                "version"
            ) from e


def load_snapshot(path: str, version: int | None = None) -> Snapshot:
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no snapshot table at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        if 0 <= v < vs[0]:
            raise VacuumedVersionError(
                f"version {v} of {path} was removed by vacuum (oldest "
                f"surviving version: {vs[0]}); time travel is bounded "
                "by the vacuum retention window — target a surviving "
                "version or keep more history (retention_hours/"
                "keep_last)"
            )
        raise ValueError(f"version {v} not in {path} (have {vs})")
    return _snapshot(path, _read_manifest(path, v))


def _snapshot(path: str, m: dict, dead_counts: bool = True) -> Snapshot:
    """The Snapshot view of manifest ``m``. ``dead_counts=False`` skips
    reading the dv sidecars (``dv_dead`` stays None) — for the commit
    loop's head, whose writers carry dead counts by sidecar name."""
    mdir = os.path.join(path, _MANIFESTS)

    def lazy(kind: str) -> Mapping | None:
        inline = m.get(_SC_INLINE[kind])
        refs = m.get(_SC_REFS[kind]) or []
        if inline is None and not refs:
            return None
        return _SidecarMap(mdir, inline, refs)

    # dv_dead is EAGER and summed (delta algebra), and POISONS to None
    # on a missing sidecar: an undercounted dead map would make the
    # metadata-only COUNT silently overcount — None makes it fail open
    # to a scan instead (stats/blooms fail open entry-wise, which is
    # always safe for pruning).
    dv_inline = m.get("dv_dead")
    dv_refs = m.get("dv_sidecars") or []
    if not dead_counts or (dv_inline is None and not dv_refs):
        dv_dead = None
    else:
        dv_dead = dict(dv_inline or {})
        for name in dv_refs:
            try:
                with open(os.path.join(mdir, name)) as sf:
                    delta = json.load(sf)
            except (OSError, json.JSONDecodeError):
                dv_dead = None
                break
            for k, n in delta.items():
                dv_dead[k] = dv_dead.get(k, 0) + n
    return Snapshot(
        m["version"],
        m["dirs"],
        m["schema"],
        m["committed_at"],
        m.get("part_entries"),
        m.get("partition_by"),
        lazy("stats"),
        m.get("stats_cols"),
        lazy("bloom"),
        m.get("bloom_cols"),
        m.get("dv_files"),
        dv_dead,
        m.get("op"),
        m.get("metrics"),
        m.get("column_mapping"),
        m.get("retired_physical"),
    )


# ---------------------------------------------------------------------------
# The commit loop (see "Commit protocol" in the module docstring)
# ---------------------------------------------------------------------------

_MAX_ATTEMPTS = 10  # publish attempts before a writer gives up


class WriteConflict(RuntimeError):
    """Another commit landed that this writer may not publish over
    (overlapping partitions, a moved head, a RENAME/DROP COLUMN after
    its data write); re-run the operation against the new head."""


@dataclass
class _Change:
    """What one commit attempt changes, relative to the head its build
    saw; ``_publish`` derives every other manifest field from that
    head. ``kept`` names which head files stay in the table: None =
    all, () = none, else the dir prefixes of carried partitions."""

    metrics: dict
    dirs: list[str] | None = None
    schema: str | None = None
    entries: list[dict] | None = None  # partition-granular tables
    partition_by: list[str] | None = None
    kept: tuple[str, ...] | None = None
    fresh: list[str] = field(default_factory=list)  # one sidecar each
    stats_cols: list[str] | None = None  # None: keep the table's
    bloom_cols: list[str] | None = None
    dv_dir: str | None = None
    dead: dict | None = None
    ndv: dict | None = None
    refs: dict | None = None  # republish these references verbatim
    extra: dict = field(default_factory=dict)
    orphans: tuple[str, ...] = ()  # deleted when the publish loses


def _head(path: str) -> tuple[Snapshot | None, dict | None]:
    """The head snapshot and its raw manifest from ONE manifest read."""
    vs = _versions(path)
    if not vs:
        return None, None
    m = _read_manifest(path, vs[-1])
    return _snapshot(path, m, dead_counts=False), m


_REFERENCE_KEYS = (
    "dirs", "schema", "part_entries", "partition_by", "stats_cols",
    "bloom_cols", "dv_files", "ndv_sketches",
    *_SC_REFS.values(), *_SC_INLINE.values(),
)


def _references(m: dict) -> dict:
    """Everything a manifest references (data, tombstones, sidecar
    NAMES, sketches, column mapping) — what a metadata-only commit,
    a restore or a clone republishes, at O(1) metadata cost."""
    out = {k: m[k] for k in _REFERENCE_KEYS if m.get(k) is not None}
    out["column_mapping"] = m.get("column_mapping")
    out["retired_physical"] = m.get("retired_physical")
    return out


def _check_base(
    path: str, op: str, head: Snapshot | None, base: int, affected
) -> None:
    """Refuse to publish over commits that landed after ``base`` (-1:
    no table yet) unless ``affected`` partitions can rebase across
    every one of them."""
    have = -1 if head is None else head.version
    if have == base:
        return
    if head is None:
        raise RuntimeError(f"history at {path} vanished mid-commit")
    if affected is None or base < 0:
        raise WriteConflict(
            f"write conflict at {path}: a concurrent commit published "
            f"version {have} during this {op}; re-run it"
        )
    for v in range(base + 1, have + 1):
        entries = _read_manifest(path, v).get("part_entries")
        if entries is None or {
            tuple(e["parts"]) for e in entries if e.get("changed")
        } & affected:
            raise WriteConflict(
                f"write conflict at {path}: version {v} touched "
                f"overlapping partitions; re-run the {op}"
            )


def _manifest(
    path: str, version: int, op: str, ch: _Change,
    head: Snapshot | None, head_m: dict | None,
) -> dict:
    m = {"version": version, "committed_at": time.time(), "op": op,
         "metrics": ch.metrics}
    if ch.refs is not None:
        m.update(ch.refs)
    else:
        m["dirs"], m["schema"] = ch.dirs, ch.schema
        if ch.entries is not None:
            m["part_entries"] = ch.entries
            m["partition_by"] = ch.partition_by
        # metadata of head files the commit keeps carries by name;
        # tombstones addressing rewritten files simply match nothing
        kept_m = head_m if ch.kept != () else None
        keep = None if not ch.kept else (lambda f: f.startswith(ch.kept))
        dv = list(head.dv_files or []) if kept_m else []
        if ch.dv_dir is not None:
            dv.append(ch.dv_dir)
        if dv:
            m["dv_files"] = dv
            scs = _next_sidecars(path, kept_m, "dv", fresh=[ch.dead or {}])
            if scs:
                m["dv_sidecars"] = scs
        for kind, named, collect in (
            ("stats", ch.stats_cols, collect_file_stats),
            ("bloom", ch.bloom_cols, collect_file_blooms),
        ):
            cols = named
            if cols is None and head is not None:
                cols = getattr(head, f"{kind}_cols")
            if cols:
                m[_SC_REFS[kind]] = _next_sidecars(
                    path, kept_m, kind, keep=keep,
                    fresh=[collect([d], list(cols)) for d in ch.fresh],
                )
                m[f"{kind}_cols"] = list(cols)
        if ch.ndv is not None:
            m["ndv_sketches"] = ch.ndv
    m.update(ch.extra)
    if head_m is not None:
        m.setdefault("column_mapping", head_m.get("column_mapping"))
        m.setdefault("retired_physical", head_m.get("retired_physical"))
    return m


def _publish(
    path: str,
    op: str,
    build,
    base: int | None = None,
    affected: set | None = None,
    written_under: tuple[dict, set] | None = None,
    create: bool = False,
) -> int:
    """THE optimistic-commit loop; returns the published version (or
    the head's, when ``build`` returns None: nothing to commit).

    ``base`` is the head version the writer read (-1: no table): a
    commit landing after it conflicts, unless ``affected`` partitions
    rebase across it. ``written_under`` is the (mapping, retired
    names) the writer's data files were written under. ``create``
    lets the writer start a table."""
    for _ in range(_MAX_ATTEMPTS):
        head, head_m = _head(path)
        if head is None and base is None and not create:
            raise FileNotFoundError(f"no snapshot table at {path}")
        if written_under is not None and head is not None and (
            _mapping(head) != written_under[0]
            or set(head.retired_physical or []) != written_under[1]
        ):
            raise WriteConflict(
                f"write conflict at {path}: concurrent RENAME/DROP "
                f"COLUMN during {op}; re-run against the new schema"
            )
        if base is not None:
            _check_base(path, op, head, base, affected)
        ch = build(head, head_m)
        if ch is None:
            return head.version
        version = 0 if head is None else head.version + 1
        manifest = _manifest(path, version, op, ch, head, head_m)
        if _try_publish_manifest(path, version, manifest):
            return version
        for d in ch.orphans:
            shutil.rmtree(d, ignore_errors=True)
    raise RuntimeError(
        f"commit contention at {path}: {_MAX_ATTEMPTS} attempts"
    )


def _publish_rewrite(
    path: str,
    op: str,
    base: int,
    affected: set | None,
    commit_dir: str,
    parts: list[str],
    schema: str,
    written_under: tuple[dict, set],
    fresh_changed: bool = True,
    stats_cols: list[str] | None = None,
    extra: dict | None = None,
) -> int:
    """Publish an already-written partition-granular rewrite (MERGE,
    DELETE, scoped OPTIMIZE) built on version ``base`` (-1: none): the
    rewrite replaces the ``affected`` partitions (None: the whole
    table), every other head entry carries by reference, and the
    commit rebases across concurrent commits that changed disjoint
    partitions."""
    fresh = _fresh_entries(commit_dir, parts, fresh_changed)
    scope = affected
    if scope is None:
        scope = {tuple(e["parts"]) for e in fresh}
    nf, nr = _dir_file_metrics([commit_dir])
    # one stats sidecar per directory of fresh files: a later rewrite
    # of one partition then dirties exactly one sidecar
    fresh_dirs = sorted(
        {os.path.dirname(f) for f in _parquet_files(commit_dir)}
    )

    def build(head, head_m):
        carried = [
            {**e, "changed": False}
            for e in (head.part_entries or [] if head else [])
            if tuple(e["parts"]) not in scope
        ]
        return _Change(
            metrics={
                "num_files_added": nf,
                "num_output_rows": nr,
                "num_partitions_changed": len(scope),
                "num_partitions_carried": len(carried),
            },
            dirs=[commit_dir],
            schema=schema,
            entries=carried + fresh,
            partition_by=parts,
            # match on directory boundaries: a carried dir .../p=1 must
            # not prefix-capture files of a rewritten sibling .../p=10
            kept=tuple(e["dir"].rstrip(os.sep) + os.sep for e in carried),
            fresh=fresh_dirs,
            stats_cols=stats_cols,
            extra=extra or {},
        )

    return _publish(
        path, op, build, base=base, affected=affected,
        written_under=written_under, create=True,
    )


# type-widening chains (Delta's typeWidening set for integral and
# floating types): evolution may move a column RIGHTWARD along its
# chain only — the table schema takes the wider of (table, incoming)
# and old data files keep their narrower physical type, upcast at scan
# time by the declared read schema (a metadata-only change, no rewrite)
_WIDENING_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widened_type(old_dt, new_dt):
    """The wider of two types when both sit on ONE widening chain;
    None when the pair is not a legal widening (caller refuses)."""
    o, n = old_dt.typeName(), new_dt.typeName()
    for chain in _WIDENING_CHAINS:
        if o in chain and n in chain:
            return old_dt if chain.index(o) >= chain.index(n) else new_dt
    return None


def _merged_schema_json(parent_json: str, df: DataFrame) -> str:
    """Schema evolution for appends: parent fields keep their order, new
    fields append at the end; an existing field may WIDEN along an
    integral/float chain (int→long, float→double — the table type
    becomes the wider of the two, a metadata-only update); any other
    type change — including narrowing and cross-kind changes — is a
    typed refusal (Delta's ``mergeSchema`` + typeWidening rule)."""
    parent = StructType.fromJson(json.loads(parent_json))
    have = {f.name: f for f in parent.fields}
    merged = list(parent.fields)
    for f in df.schema.fields:
        old = have.get(f.name)
        if old is None:
            merged.append(f)
        elif old.dataType != f.dataType:
            wide = _widened_type(old.dataType, f.dataType)
            if wide is None:
                raise ValueError(
                    f"schema evolution cannot change {f.name!r}: "
                    f"{old.dataType} -> {f.dataType}"
                )
            merged = [
                StructField(m.name, wide, m.nullable)
                if m.name == f.name
                else m
                for m in merged
            ]
    return StructType(merged).json()


def _enc_stat(v):
    """JSON-encode a parquet-footer min/max value, tagging the types JSON
    can't round-trip natively."""
    import datetime as _dt

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, _dt.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"__date__": v.isoformat()}
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None  # unsupported type: no stat, file stays unprunable


def _dec_stat(v):
    import datetime as _dt

    if isinstance(v, dict):
        if "__ts__" in v:
            return _dt.datetime.fromisoformat(v["__ts__"])
        if "__date__" in v:
            return _dt.date.fromisoformat(v["__date__"])
    return v


def collect_file_stats(
    dirs: list[str], cols: list[str]
) -> dict[str, dict]:
    """Per-file column min/max/null-count from parquet footers (metadata
    pages only — no data I/O). Driver-side walk: footer reads are a few
    KB per file; at real scale this moves into the write tasks themselves
    (each task records stats for the file it just wrote, Delta-style) so
    commit cost stays O(files-written), never O(table)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fpath in (f for d in dirs for f in _parquet_files(d)):
        md = pq.ParquetFile(fpath).metadata
        stats: dict[str, dict] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col_md = row_group.column(ci)
                c = col_md.path_in_schema
                if c not in cols:
                    continue
                st = col_md.statistics
                ent = stats.setdefault(
                    c, {"min": None, "max": None, "nulls": 0}
                )
                if st is None:
                    # unknown content: poison the entry so the
                    # pruner keeps the file
                    stats[c] = {"min": None, "max": None,
                                "nulls": None}
                    continue
                if st.null_count is None or ent["nulls"] is None:
                    ent["nulls"] = None
                else:
                    ent["nulls"] += st.null_count
                if st.has_min_max:
                    lo, hi = _enc_stat(st.min), _enc_stat(st.max)
                    if lo is None or hi is None:
                        stats[c] = {"min": None, "max": None,
                                    "nulls": None}
                        continue
                    if ent["min"] is None or _dec_stat(lo) < _dec_stat(
                        ent["min"]
                    ):
                        ent["min"] = lo
                    if ent["max"] is None or _dec_stat(hi) > _dec_stat(
                        ent["max"]
                    ):
                        ent["max"] = hi
        out[fpath] = {"rows": md.num_rows, "cols": stats}
    return out


def _bloom_canon(v) -> str | None:
    """Canonical string form hashed on BOTH build and probe sides, so a
    type-mismatched-but-equal literal (5.0 vs stored 5, True vs stored 1)
    hits the same bloom bits a plain filtered scan would match. Integral
    floats/Decimals collapse to int; bool collapses to its int value
    (Python equality: True == 1). NON-integral Decimals return None —
    their string form is scale-sensitive (Decimal('0.50') vs the float
    probe 0.5), so the bloom FAILS OPEN for them: a column containing
    one gets no bloom at build, and a Decimal probe never prunes.
    Anything else hashes as str(v)."""
    import decimal

    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return None
    return str(v)


def _bloom_hashes(s: str) -> tuple[int, int]:
    import hashlib

    d = hashlib.blake2b(s.encode(), digest_size=16).digest()
    # double hashing: h1 + i·h2; odd h2 so strides cover the bit space
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,
    )


def _bloom_build(values, fpp: float = 0.01) -> dict | None:
    """Returns None (no bloom, reads fail open) when any value has no
    canonical form — never build a filter that could falsely prune."""
    import base64
    import math

    vals = set()
    for v in values:
        if v is None:
            continue
        c = _bloom_canon(v)
        if c is None:
            return None
        vals.add(c)
    n = max(1, len(vals))
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1)
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray((m + 7) // 8)
    for v in vals:
        h1, h2 = _bloom_hashes(v)
        for i in range(k):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return {"m": m, "k": k, "bits": base64.b64encode(bytes(bits)).decode()}


def _bloom_test(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["bits"])
    canon = _bloom_canon(value)
    if canon is None:
        return True  # no canonical form: fail open, never prune
    h1, h2 = _bloom_hashes(canon)
    m = bloom["m"]
    for i in range(bloom["k"]):
        idx = (h1 + i * h2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def collect_file_blooms(
    dirs: list[str], cols: list[str], fpp: float = 0.01
) -> dict[str, dict]:
    """Per-file Bloom filters over the given columns (Delta's bloom-index
    analog): ~10 bits/distinct value at 1% fpp, stored in the manifest so
    point lookups prune files min/max can't (high-cardinality columns in
    unsorted layouts). Values hash by canonical string — intended for
    integer/string key columns. Build cost reads only the indexed
    columns of the files just written; at real scale it rides inside the
    write task itself."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fpath in (f for d in dirs for f in _parquet_files(d)):
        pf = pq.ParquetFile(fpath)
        # a file may lack an inherited bloom column (written
        # after a DROP COLUMN): it gets no bloom for it
        have = [c for c in cols if c in pf.schema_arrow.names]
        tbl = pf.read(columns=have)
        built = {
            c: _bloom_build(tbl.column(c).to_pylist(), fpp)
            for c in have
        }
        # a None build means no canonical form: record no bloom
        # for that column so reads fail open rather than prune
        out[fpath] = {
            c: b for c, b in built.items() if b is not None
        }
    return out


def _dir_file_metrics(dirs: list[str]) -> tuple[int, int]:
    """(n_files, n_rows) of the parquet files under ``dirs`` — footer
    metadata only (a few KB per freshly written file), the source for
    operation metrics. O(files touched by THIS commit), never O(table);
    at real scale the counts ride inside the write tasks themselves.
    ``_change_data`` subtrees are change rows, not data, and are not
    counted."""
    import pyarrow.parquet as pq

    files = [f for d in dirs for f in _parquet_files(d)]
    return len(files), sum(
        pq.ParquetFile(f).metadata.num_rows for f in files
    )


def _cluster_shape(
    df: DataFrame, cluster_by: list[str], n_files: int | None
) -> DataFrame:
    """Shared clustering shape for commit() and compact(): one column →
    range partition + sort on the column itself (identical file-level
    min/max locality with no quantile/sample pass, any orderable type);
    several → ``layout.z_value`` bit-interleave so every cluster column
    gets narrow per-file windows simultaneously."""
    if len(cluster_by) == 1:
        return df.repartitionByRange(
            n_files or 32, F.col(cluster_by[0])
        ).sortWithinPartitions(cluster_by[0])
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources.layout import (
        Z_COL,
        z_value,
    )

    return (
        df.withColumn(Z_COL, z_value(df, cluster_by))
        .repartitionByRange(n_files or 32, Z_COL)
        .sortWithinPartitions(Z_COL)
        .drop(Z_COL)
    )


def _raw_manifest(path: str, version: int | None = None) -> dict:
    """The manifest JSON verbatim — for fields the Snapshot dataclass
    doesn't surface (NDV sketches)."""
    return _read_manifest(
        path, _versions(path)[-1] if version is None else version
    )


def _mapping(snap: Snapshot) -> dict[str, str]:
    """Logical→physical column map for a snapshot ({} = identity)."""
    return dict(snap.column_mapping or {})


def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename a logical-named frame to on-disk physical names (no-op
    without a mapping). Every data write on a mapped table goes
    through this so old and new files agree column-for-column."""
    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _phys_cols(mapping: dict[str, str], cols) -> list[str]:
    return [mapping.get(c, c) for c in cols]


def _logical_select(raw: DataFrame, snap: Snapshot, extra: tuple = ()):
    """Project a physical scan onto the snapshot's LOGICAL schema:
    rename mapped columns, null-fill columns a commit predates, cast
    to the manifest types. The one read-side seam every mapped-table
    consumer shares."""
    schema = StructType.fromJson(json.loads(snap.schema_json))
    mapping = _mapping(snap)
    have = set(raw.columns)
    return raw.select(
        *extra,
        *[
            F.col(mapping.get(f.name, f.name))
            .cast(f.dataType)
            .alias(f.name)
            if mapping.get(f.name, f.name) in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
    )


def _word_in_expr(col: str, expr: str) -> bool:
    import re

    return re.search(rf"\b{re.escape(col)}\b", expr) is not None


def _guard_mapping_refs(path: str, snap: Snapshot, col: str, op: str):
    """RENAME/DROP COLUMN refuses columns other table machinery
    references by name (Delta refuses the same cases): partition
    layout, declared partition transforms, CHECK constraints,
    generated-column expressions, the identity column."""
    if col in (snap.partition_by or []):
        raise ValueError(f"{op}: {col!r} is a partition column")
    meta = _load_table_meta(path)  # one read feeds all four guards
    for t in partition_transforms(path, meta):
        if col in (t.get("src"), t.get("name")):
            raise ValueError(
                f"{op}: {col!r} is referenced by partition transform "
                f"{t!r}"
            )
    for name, expr in check_constraints(path, meta).items():
        if _word_in_expr(col, expr):
            raise ValueError(
                f"{op}: {col!r} is referenced by CHECK constraint "
                f"{name!r} ({expr})"
            )
    for gcol, expr in generated_columns(path, meta).items():
        if col == gcol or _word_in_expr(col, expr):
            raise ValueError(
                f"{op}: {col!r} is referenced by generated column "
                f"{gcol!r} ({expr})"
            )
    ident = identity_column(path, meta)
    if ident and ident.get("col") == col:
        raise ValueError(f"{op}: {col!r} is the identity column")


def _publish_metadata_only(
    path: str, snap: Snapshot, op: str, metrics: dict, **patch
) -> int:
    """Publish a new head that references the SAME data as ``snap``
    with manifest fields overridden by ``patch`` — the RENAME/DROP
    COLUMN commit shape (zero data movement, like restore). Rows are
    untouched, so NDV sketches carry too."""
    return _publish(
        path,
        op,
        lambda head, head_m: _Change(
            metrics, refs={**_references(head_m), **patch}
        ),
        base=snap.version,
    )


def rename_column(path: str, old: str, new: str) -> int:
    """``ALTER TABLE ... RENAME COLUMN old TO new`` — METADATA-ONLY
    (Delta column mapping, name mode): no data file is touched; the new
    manifest maps the new logical name onto the column's unchanged
    physical name. All reads/writes translate at the seam
    (``_logical_select`` / ``_to_physical``); ``compact()``
    materializes the mapping into fresh files and clears it. Time
    travel to pre-rename versions shows the old name — the mapping is
    per-manifest, not table-global.

    Refused for columns referenced by partition layout/transforms,
    CHECK constraints, generated columns, or the identity column
    (their expressions name this column). Returns the new version."""
    snap = load_snapshot(path)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"rename_column: no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"rename_column: column {new!r} already exists")
    _guard_mapping_refs(path, snap, old, "rename_column")
    mapping = _mapping(snap)
    phys = mapping.pop(old, old)
    if new != phys:
        mapping[new] = phys
    new_schema = StructType(
        [
            StructField(new, f.dataType, f.nullable)
            if f.name == old
            else f
            for f in schema.fields
        ]
    )
    return _publish_metadata_only(
        path,
        snap,
        "RENAME COLUMN",
        {"renamed_from": old, "renamed_to": new},
        schema=new_schema.json(),
        column_mapping=mapping or None,
    )


def drop_column(path: str, col: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` — METADATA-ONLY: the column
    leaves the logical schema; its physical data stays in the files
    (readers never select it; ``compact()`` rewrites it away) and its
    physical name is RETIRED — a later commit may not introduce a
    column with that physical name, which is what stops old files from
    resurrecting dropped data under a re-added name (Delta assigns
    fresh physical ids for the same reason). Same reference guards as
    ``rename_column``. Returns the new version."""
    snap = load_snapshot(path)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"drop_column: no column {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("drop_column: cannot drop the only column")
    _guard_mapping_refs(path, snap, col, "drop_column")
    mapping = _mapping(snap)
    phys = mapping.pop(col, col)
    new_schema = StructType([f for f in schema.fields if f.name != col])
    retired = list(snap.retired_physical or []) + [phys]
    return _publish_metadata_only(
        path,
        snap,
        "DROP COLUMN",
        {"dropped_column": col},
        schema=new_schema.json(),
        column_mapping=mapping or None,
        retired_physical=retired,
    )


NDV_P = 8  # 2^8 = 256 one-byte registers per sketched column


def _collect_ndv_sketch(df: DataFrame, cols: list[str]) -> dict:
    """Per-column HLL register sketch of ``df`` as a JSON-able dict
    {col: [[reg, m], ...]} — ≤ 2^NDV_P rows per column, a BOUNDED
    driver collect (the same budget class as codebooks and per-batch
    marker probes). One extra aggregation job per column over data the
    commit is writing anyway."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    out = {}
    for c in cols:
        rows = SK.hll_sketch(df, [], c, p=NDV_P).collect()
        out[c] = sorted([int(r["reg"]), int(r["m"])] for r in rows)
    return out


def _merge_ndv(a: dict | None, b: dict) -> dict:
    """Register-wise max of two stored sketches — the HLL union, in
    pure Python on ≤ 2^NDV_P entries per column."""
    if not a:
        return b
    out = {}
    for c in set(a) | set(b):
        regs: dict[int, int] = {}
        for reg, m in list(a.get(c, [])) + list(b.get(c, [])):
            regs[reg] = max(regs.get(reg, 0), m)
        out[c] = sorted([r, m] for r, m in regs.items())
    return out


def table_ndv(path: str, version: int | None = None) -> dict:
    """Manifest-only COUNT(DISTINCT) estimates (the Delta/Iceberg NDV
    statistic, HLL-backed): {col: estimate} from the register sketches
    the commits recorded — ZERO data-file I/O, O(2^NDV_P) driver math.
    Returns {} when the snapshot carries no sketches. Maintained by
    ``commit`` (overwrite rebuilds, append merges — register max is
    exact union algebra); any op that REMOVES rows (DELETE/UPDATE/
    MERGE/replaceWhere/OPTIMIZE) drops the sketches rather than serve
    estimates registers cannot un-see — fail-open, like per-column
    min/max under deletion vectors. Column-mapped tables report
    LOGICAL names."""
    m = _raw_manifest(path, version)
    sketches = m.get("ndv_sketches")
    if not sketches:
        return {}
    q = 32 - NDV_P
    m_regs = 1 << NDV_P
    alpha = 0.7213 / (1.0 + 1.079 / m_regs)
    numer = alpha * float(m_regs) * float(m_regs) * float(1 << (q + 1))
    inv = {p: l for l, p in (m.get("column_mapping") or {}).items()}
    out = {}
    for c, regs in sketches.items():
        s = sum(1 << (q + 1 - mm) for _, mm in regs)
        s += (m_regs - len(regs)) * (1 << (q + 1))
        est = numer / float(s)
        zeros = m_regs - len(regs)
        if est <= 2.5 * m_regs and zeros:
            # Flajolet's small-range linear counting. This is DRIVER
            # Python (math.log), fine here; the distributed
            # operators.sketches.hll_estimate stays libm-free because
            # IT carries a bit-exact SQL oracle contract.
            import math

            est = m_regs * math.log(m_regs / zeros)
        out[inv.get(c, c)] = round(est, 4)
    return out


def commit(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    merge_schema: bool = False,
    stats_for: list[str] | None = None,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
    bloom_for: list[str] | None = None,
    ndv_for: list[str] | None = None,
    op: str | None = None,
) -> int:
    """Atomically commit ``df`` as the table's next version; returns it.

    ``overwrite`` publishes a manifest listing only this commit's data
    dir; ``append`` carries the parent snapshot's dirs forward. The data
    write happens BEFORE publication, so a crashed writer leaves only an
    unreferenced orphan dir (cleaned by ``vacuum``), never a torn table.

    ``merge_schema=True`` (append mode) evolves the table schema by
    column addition: the manifest's schema becomes parent ∪ df, readers
    see ``null`` for columns a commit predates, and a type change on an
    existing column is rejected. Without the flag, an append whose schema
    differs from the parent's raises (Delta's default strictness).

    ``stats_for=[cols]`` records per-file min/max/null-count for those
    columns in the manifest (footer metadata only, no data re-read) so
    ``read_where`` can skip files at *planning* time — Delta/Iceberg data
    skipping; ``bloom_for`` records per-file Bloom filters. Omitted,
    both default to the table's current stats/bloom columns.
    ``cluster_by=[cols]`` Z-orders the rows before writing
    (``sources.layout.z_value``) so each file covers a narrow min/max
    window on every cluster column, making those stats bite; appends
    carry the parent's per-file stats forward untouched (data dirs are
    immutable).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    # one table-meta read feeds every per-commit hook (identity stamp,
    # generated columns, CHECK constraints) — hooks never re-load it
    meta = _load_table_meta(path)
    df = _stamp_identity(df, path, meta)
    df = _apply_constraint_guard(df, path, meta)
    head0, head0_m = _head(path)
    mapping = _mapping(head0) if head0 else {}
    retired = set(head0.retired_physical or []) if head0 else set()
    if mapping or retired:
        # a NEW logical column may not land on a physical name that a
        # different logical column occupies or a dropped column retired
        # — old files would alias/resurrect foreign data under it
        taken = set(mapping.values()) | retired
        clash = [c for c in df.columns if c not in mapping and c in taken]
        if clash:
            raise ValueError(
                f"commit: column name(s) {clash} collide with physical "
                "names in use or retired by rename/drop; pick other "
                "names or compact() to materialize the mapping"
            )
    if cluster_by:
        df = _cluster_shape(df, list(cluster_by), n_files)
    commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
    _to_physical(df, mapping).write.mode("errorifexists").parquet(commit_dir)
    nf, nr = _dir_file_metrics([commit_dir])
    # NDV sketches: explicit request, or (append) the parent's sketched
    # columns so table-level NDV survives appends without re-requesting.
    # Sketch LOGICAL df columns, store under PHYSICAL keys (like stats).
    ndv_logical = list(ndv_for) if ndv_for else None
    if ndv_logical is None and mode == "append" and head0_m:
        inv = {p: l for l, p in mapping.items()}
        ndv_logical = [
            inv.get(c, c) for c in head0_m.get("ndv_sketches") or []
        ]
    fresh_ndv = (
        {
            mapping.get(c, c): regs
            for c, regs in _collect_ndv_sketch(
                df, [c for c in ndv_logical if c in df.columns]
            ).items()
        }
        if ndv_logical
        else None
    )

    def build(head, head_m):
        if mode == "overwrite" or head is None:
            dirs, schema_json, kept = [commit_dir], df.schema.json(), ()
        else:
            if head.part_entries is not None:
                raise ValueError(
                    "commit(mode='append') onto a merge-committed table "
                    "would drop its carried-by-reference partitions; use "
                    "merge_commit (or compact) on partitioned tables"
                )
            dirs, kept = head.dirs + [commit_dir], None
            if merge_schema:
                schema_json = _merged_schema_json(head.schema_json, df)
            else:
                pfields = StructType.fromJson(
                    json.loads(head.schema_json)
                ).fields
                if [(f.name, f.dataType) for f in pfields] != [
                    (f.name, f.dataType) for f in df.schema.fields
                ]:
                    raise ValueError(
                        "append schema differs from table schema; pass "
                        "merge_schema=True to evolve by column addition"
                    )
                schema_json = head.schema_json
        ndv = fresh_ndv
        if fresh_ndv is not None and kept is None:
            parent_ndv = head_m.get("ndv_sketches")
            if ndv_for is not None and parent_ndv:
                # explicit ndv_for narrower than the parent's sketched
                # set: the un-requested columns' sketches never see the
                # appended rows' values — carrying them would silently
                # underestimate. Drop them (fail-open, like row-removing
                # ops).
                parent_ndv = {
                    c: r for c, r in parent_ndv.items() if c in fresh_ndv
                }
            ndv = _merge_ndv(parent_ndv, fresh_ndv)
        return _Change(
            {"num_files_added": nf, "num_output_rows": nr},
            dirs=dirs,
            schema=schema_json,
            kept=kept,
            fresh=[commit_dir],
            stats_cols=_phys_cols(mapping, stats_for) if stats_for else None,
            bloom_cols=_phys_cols(mapping, bloom_for) if bloom_for else None,
            ndv=ndv,
        )

    # ``op`` override: maintenance passes that publish through commit()
    # (e.g. the streaming state compactor) keep their true operation
    # name in DESCRIBE HISTORY
    return _publish(
        path,
        op or ("WRITE" if mode == "overwrite" else "APPEND"),
        build,
        written_under=(mapping, retired),
        create=True,
    )


# Tombstone files all share this fixed shape (written from
# _metadata.file_path / _metadata.row_index projections). Declaring it on
# read skips Spark's footer-sampling schema inference — one extra driver
# job per read locally, a footer fetch over object storage at scale.
_DV_SCHEMA = "file string, row_idx bigint"


def _dv_tombstones(spark: SparkSession, snap: Snapshot) -> DataFrame | None:
    """The snapshot's deletion-vector rows (file, row_idx), or None."""
    if not snap.dv_files:
        return None
    return (
        spark.read.schema(_DV_SCHEMA)
        .parquet(*snap.dv_files)
        .select("file", "row_idx")
    )


def _dv_filter(marked: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Anti-join a frame already carrying its physical address
    (``__fp``, ``__ri``) against the tombstone set. Tombstones are
    deletion-scale, so AQE broadcasts them; cost is a broadcast probe
    per scanned row, zero for tables with no DVs."""
    if dv is None:
        return marked
    return marked.join(
        dv,
        (marked["__fp"] == dv["file"]) & (marked["__ri"] == dv["row_idx"]),
        "left_anti",
    )


def _apply_dv(df: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Filter a file-source frame through deletion vectors: tag each row
    with its physical address (``_metadata`` pseudo-column — constant
    per row, no shuffle) and anti-join the tombstone set."""
    if dv is None:
        return df
    marked = df.withColumn(
        "__fp", F.col("_metadata.file_path")
    ).withColumn("__ri", F.col("_metadata.row_index"))
    return _dv_filter(marked, dv).drop("__fp", "__ri")


def _physical_schema(snap: Snapshot):
    """The DECLARED read schema for a snapshot's data files: manifest
    fields under their PHYSICAL (on-disk) names and their manifest —
    i.e. widest-ever — types. Declaring the schema (instead of
    footer ``mergeSchema``) is what makes type widening metadata-only:
    files written before an int→long / float→double widening keep
    their narrow physical type and the parquet reader upcasts them at
    scan time; footer merging would refuse the type conflict. Fields a
    file predates (add-column evolution) read as null exactly as under
    mergeSchema. Everything is declared nullable — old files null-fill
    evolved columns regardless of the manifest's nullability."""
    schema = StructType.fromJson(json.loads(snap.schema_json))
    mapping = _mapping(snap)
    return StructType(
        [
            StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in schema.fields
        ]
    )


def _addressed(
    spark: SparkSession, snap: Snapshot, paths: list[str], base=None
) -> DataFrame:
    """Scan ``paths`` (dirs or files) under the snapshot's declared
    physical schema (see ``_physical_schema`` — add-column evolution
    null-fills, type widening upcasts, both without footer merging),
    with physical-address columns (``__fp``, ``__ri``) attached.
    ``base`` is the hive basePath partition columns come back under."""
    reader = spark.read.schema(_physical_schema(snap))
    if base is not None:
        reader = reader.option("basePath", base)
    return (
        reader.parquet(*paths)
        .withColumn("__fp", F.col("_metadata.file_path"))
        .withColumn("__ri", F.col("_metadata.row_index"))
    )


def _scan_with_address(
    spark: SparkSession, snap: Snapshot, groups: dict | None = None
) -> DataFrame:
    """Raw file scan of a snapshot's data rows with physical-address
    columns attached. The ``_metadata`` pseudo-column resolves against
    each file-source relation, so on merge-committed (hive-partitioned)
    layouts it is captured per base group BEFORE the union; ``groups``
    ({basePath: paths}) narrows that scan, and defaults to every
    partition entry. No DV filtering, no logical normalization —
    callers do both."""
    if not snap.part_entries:
        return _addressed(spark, snap, snap.dirs)
    if groups is None:
        from collections import defaultdict

        groups = defaultdict(list)
        for e in snap.part_entries:
            groups[e["base"]].append(e["dir"])
    frames = [
        _addressed(spark, snap, paths, base)
        for base, paths in groups.items()
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def version_at_timestamp(path: str, ts) -> int:
    """Delta's ``TIMESTAMP AS OF`` resolution: the HIGHEST version
    committed at or before ``ts`` (float epoch seconds or a datetime).
    Highest-of-eligible rather than a bisect keeps the answer correct
    even if commit clocks regressed (writers on skewed hosts); raises
    if ``ts`` predates the table's first commit, like Delta."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    hist = history(path)
    eligible = [s.version for s in hist if s.committed_at <= float(ts)]
    if not eligible:
        oldest = min(hist, key=lambda s: s.version)
        if oldest.version > 0:
            # versions 0..oldest-1 existed but were vacuumed: the
            # timestamp falls outside the retention window, which is a
            # different (and actionable) failure than "table is younger
            # than the timestamp"
            raise VacuumedVersionError(
                f"timestamp {ts} predates the retention window of "
                f"{path}: versions before v{oldest.version} (oldest "
                f"surviving, committed at {oldest.committed_at}) were "
                "vacuumed — keep more history (retention_hours/"
                "keep_last) or target a surviving version"
            )
        raise ValueError(
            f"no version of {path} committed at or before {ts}"
        )
    return max(eligible)


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot-isolated read of the latest (or a time-traveled) version
    — by version number (``VERSION AS OF``) or commit time
    (``timestamp``: ``TIMESTAMP AS OF``, resolved by
    ``version_at_timestamp``; mutually exclusive with ``version``).
    Columns a commit predates (schema evolution) read as ``null``; rows
    tombstoned by deletion vectors are filtered at scan time."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    snap = load_snapshot(path, version)
    if not snap.part_entries:
        df = _apply_dv(
            spark.read.schema(_physical_schema(snap)).parquet(*snap.dirs),
            _dv_tombstones(spark, snap),
        )
        return _logical_select(df, snap)
    # merge-committed table: entries are hive-layout partition subdirs from
    # several commit dirs; read each commit group under its own basePath so
    # the partition columns come back, then normalize types to the manifest
    # schema (dir-name inference would otherwise pick its own types).
    # Deletion vectors apply exactly as on plain tables — the address
    # columns are captured per scan relation inside _scan_with_address.
    out = _dv_filter(
        _scan_with_address(spark, snap), _dv_tombstones(spark, snap)
    )
    return _logical_select(out, snap)


_PRUNE_OPS = ("==", "<", "<=", ">", ">=", "in", "is_null", "not_null")


def _file_maybe_matches(
    entry: dict | None,
    predicates: list[tuple],
    blooms: dict | None = None,
) -> bool:
    """Can this file contain a row satisfying ALL conjuncts? Missing or
    poisoned stats keep the file (pruning is an optimization, never a
    correctness dependency — the residual filter still runs). Equality
    conjuncts additionally consult the file's Bloom filter when one was
    recorded — a definite miss prunes even when min/max can't."""
    for col, op, val in predicates:
        if blooms:
            b = blooms.get(col)
            if b is not None:
                if op == "==" and not _bloom_test(b, val):
                    return False
                if op == "in" and not any(
                    _bloom_test(b, v) for v in val
                ):
                    return False
    if entry is None:
        return True
    for col, op, val in predicates:
        st = (entry.get("cols") or {}).get(col)
        if st is None:
            continue
        if op == "is_null":
            # null-count skipping (Delta nullCount / Iceberg
            # null_value_counts): a file with zero recorded nulls
            # cannot satisfy IS NULL
            if st.get("nulls") == 0:
                return False
            continue
        if op == "not_null":
            if (
                st.get("nulls") is not None
                and entry.get("rows")
                and st["nulls"] == entry["rows"]
            ):
                return False  # all-null column: IS NOT NULL matches none
            continue
        lo, hi = _dec_stat(st["min"]), _dec_stat(st["max"])
        if lo is None or hi is None:
            if st.get("nulls") is None:
                continue  # poisoned entry: content unknown
            if entry.get("rows") and st["nulls"] == entry["rows"]:
                return False  # all-null column: no comparison matches
            continue
        try:
            if op == "==" and not (lo <= val <= hi):
                return False
            if op == "in" and not any(lo <= v <= hi for v in val):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue  # incomparable literal type: keep the file
    return True


def _part_coerce(raw: str, val):
    """Convert the hive partition string to ``val``'s type. bool needs a
    special case — bool("false") is True — so parse the literal words and
    raise (→ caller fails open) on anything else."""
    if isinstance(val, bool):
        low = raw.lower()
        if low in ("true", "false"):
            return low == "true"
        raise ValueError(raw)
    return type(val)(raw)


def _part_maybe_matches(
    part_vals: list[str], pidx: dict[str, int], predicates: list[tuple]
) -> bool:
    """Can a partition with these (string) values satisfy the conjuncts
    that mention partition columns? Unconvertible values keep the
    partition (pruning stays an optimization)."""
    for col, op, val in predicates:
        i = pidx.get(col)
        if i is None:
            continue
        if op in ("is_null", "not_null"):
            # partition values are hive strings; a null-keyed partition
            # has no canonical encoding here, so fail open
            continue
        raw = part_vals[i]
        if op == "in":
            try:
                if not any(_part_coerce(raw, v) == v for v in val):
                    return False
            except (TypeError, ValueError):
                continue
            continue
        try:
            pv = _part_coerce(raw, val)
        except (TypeError, ValueError):
            continue
        try:
            if op == "==" and not pv == val:
                return False
            if op == "<" and not pv < val:
                return False
            if op == "<=" and not pv <= val:
                return False
            if op == ">" and not pv > val:
                return False
            if op == ">=" and not pv >= val:
                return False
        except TypeError:
            continue
    return True


def _parquet_files(d: str) -> list[str]:
    """The parquet files under ``d`` — THE data-file walker behind
    ``data_files``, the stats/bloom/metrics collectors and the scans.
    ``_change_data`` subtrees hold a commit's change rows, not table
    rows, so the walk never descends into them (walk a change dir
    itself to list its files)."""
    out = []
    for root, subdirs, files in os.walk(d):
        subdirs[:] = [s for s in subdirs if s != "_change_data"]
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def _in_list(col: str, vals: list):
    """One-round-trip IN-list (operators/util.in_list); lazy import so
    the sources package never imports operators at module load."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        util as _U,
    )

    return _U.in_list(col, vals)


def _residual(predicates: list[tuple]):
    cond = None
    for col, op, val in predicates:
        c = F.col(col)
        if op == "in":
            # one parsed expression, not one py4j literal per element —
            # IN-lists here carry up to _REPLACE_KEY_CAP keys per
            # micro-batch commit (operators/util.in_list docstring)
            this = _in_list(col, list(val))
        elif op == "is_null":
            this = c.isNull()
        elif op == "not_null":
            this = c.isNotNull()
        else:
            this = {
                "==": c == F.lit(val),
                "<": c < F.lit(val),
                "<=": c <= F.lit(val),
                ">": c > F.lit(val),
                ">=": c >= F.lit(val),
            }[op]
        cond = this if cond is None else cond & this
    return cond


def read_where(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
    report: dict | None = None,
) -> DataFrame:
    """Scan with manifest-level data skipping: files whose recorded
    min/max DISPROVE the conjunction are never handed to the reader —
    pruning happens at planning time from the manifest alone, zero file
    I/O (Delta data skipping / Iceberg manifest filtering). The same
    predicate is then applied as a residual filter (and pushed to the
    parquet row-group reader), so results are identical to
    ``read().filter(...)`` whether or not stats exist.

    ``predicates`` is a conjunction of ``(column, op, literal)`` with op
    in ``== < <= > >= in is_null not_null`` (``in`` takes a list literal
    and prunes when no member can match — stats, blooms, partition
    values, and declared transforms all participate; the null tests
    ignore their literal and prune from recorded per-file null counts,
    Delta's nullCount skipping). Pass a dict as ``report`` to receive
    ``{"files_total": N, "files_kept": K}`` (tests/benchmarks assert the
    skip actually happened).

    On partitioned (merge-committed) tables, pruning is two-level:
    manifest partition VALUES first (a predicate on a partition column
    drops whole partitions), then per-file stats inside surviving
    partitions (when the merge/delete recorded them via ``stats_for``).
    """
    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(f"bad predicate {p!r}; ops: {_PRUNE_OPS}")
    snap = load_snapshot(path, version)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    mapping = _mapping(snap)
    fs = snap.file_stats or {}
    fb = snap.file_blooms or {}
    residual = _residual(predicates)
    # hidden partitioning: predicates on a transform's SOURCE column
    # imply derived-column conjuncts that participate in pruning only
    # (the residual stays on the original columns). Stats/blooms/
    # partition values are recorded under PHYSICAL names, so pruning
    # conjuncts transpose through the column mapping (transform source
    # columns are rename-guarded, hence already physical).
    phys_preds = [
        (mapping.get(c, c), op, lit) for (c, op, lit) in predicates
    ]
    prune_preds = phys_preds + _transposed_predicates(path, predicates)

    if snap.part_entries:
        from collections import defaultdict

        parts = snap.partition_by or []
        pidx = {c: i for i, c in enumerate(parts)}
        total = kept_n = 0
        by_base: dict[str, list[str]] = defaultdict(list)
        for e in snap.part_entries:
            files = _parquet_files(e["dir"])
            total += len(files)
            if not _part_maybe_matches(e["parts"], pidx, prune_preds):
                continue
            for f in files:
                if _file_maybe_matches(fs.get(f), prune_preds, fb.get(f)):
                    by_base[e["base"]].append(f)
                    kept_n += 1
        if report is not None:
            report["files_total"] = total
            report["files_kept"] = kept_n
        if not by_base:
            return spark.createDataFrame([], schema)
        out = _scan_with_address(spark, snap, by_base)
        out = _logical_select(
            _dv_filter(out, _dv_tombstones(spark, snap)), snap
        )
        return out.filter(residual) if residual is not None else out

    all_files = data_files(path, snap.version)
    kept = [
        f
        for f in all_files
        if _file_maybe_matches(fs.get(f), prune_preds, fb.get(f))
    ]
    if report is not None:
        report["files_total"] = len(all_files)
        report["files_kept"] = len(kept)
    if not kept:
        return spark.createDataFrame([], schema)
    df = _logical_select(
        _apply_dv(
            spark.read.schema(_physical_schema(snap)).parquet(*kept),
            _dv_tombstones(spark, snap),
        ),
        snap,
    )
    return df.filter(residual) if residual is not None else df


def table_stats(path: str, version: int | None = None) -> dict:
    """Metadata-only aggregates (Delta's metadata-only COUNT/MIN/MAX
    shape): row count and per-stat-column min/max straight from the
    manifest — zero data-file I/O, O(manifest) driver time. Returns
    ``{"rows": n | None, "cols": {col: {"min","max"} | None}}``; a None
    means some file lacks usable stats and the caller should fall back
    to a scan (correctness never depends on the fast path)."""
    snap = load_snapshot(path, version)
    inv = {p: l for l, p in _mapping(snap).items()}
    files = data_files(path, snap.version)
    n_dead = 0
    if snap.dv_files:
        # deletion vectors remove rows the footers still count. The
        # delete-time manifests record per-file dead counts, so COUNT
        # stays exact and O(manifest): footer rows − dead rows of files
        # still live in this snapshot (tombstones of rewritten files
        # are orphans and must not be subtracted). Column MIN/MAX can't
        # be corrected this way — a deleted row may have held the
        # extremum — so per-column stats fail open to a scan. Tables
        # whose DV manifests predate the dead counts fail fully open.
        if snap.dv_dead is None:
            return {"rows": None, "cols": {}}
        live = set(files)
        n_dead = sum(
            n
            for f, n in snap.dv_dead.items()
            if _strip_file_scheme(f) in live
        )
    fs = snap.file_stats or {}
    if set(files) != set(fs):
        return {"rows": None, "cols": {}}
    rows = sum(e["rows"] for e in fs.values()) - n_dead
    if snap.dv_files:
        return {
            "rows": rows,
            "cols": {
                inv.get(c, c): None for c in snap.stats_cols or []
            },
        }
    cols: dict = {}
    for c in snap.stats_cols or []:
        lo = hi = None
        ok = True
        for e in fs.values():
            st = (e.get("cols") or {}).get(c)
            if st is None or st["min"] is None:
                ok = False
                break
            l, h = _dec_stat(st["min"]), _dec_stat(st["max"])
            if lo is None or l < lo:
                lo = l
            if hi is None or h > hi:
                hi = h
        cols[inv.get(c, c)] = {"min": lo, "max": hi} if ok else None
    return {"rows": rows, "cols": cols}


def merge_commit(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    spec,
    check_source_unique: bool = True,
    stats_for: list[str] | None = None,
    op: str = "MERGE",
    change_data: bool = False,
) -> int:
    """MERGE upsert published as an atomic snapshot version.

    ``change_data=True`` is Delta's ``enableChangeDataFeed`` at the
    commit site: the merge ALSO writes its precise row-level changes
    (every matched key as ``update_preimage``+``update_postimage``,
    every new key as ``insert`` — Delta's matched-row semantics) to a
    ``_change_data`` dir inside the commit (underscore-prefixed:
    invisible to every data scan), referenced from the manifest. The
    ``snapshot_cdf`` stream then emits THESE rows for the version
    instead of the structural whole-partition delete+insert churn —
    row-precise CDC for rewrites, at the cost of one extra
    source-scaled write. Off by default, like Delta.

    Only *affected* partitions (those the source writes into or steals a
    matched key from) are rewritten; unaffected partitions' entries carry
    forward from the parent manifest by reference — Delta MERGE's
    touched-files behavior, manifest-log form, with time travel for free.
    Emptied partitions simply drop out of the manifest (no stale-dir
    deletion pass, unlike the dynamic-partition-overwrite writer).

    Concurrency: each manifest records which partitions it changed; a
    losing writer rebases onto the winner when their partition sets are
    disjoint and raises ``WriteConflict`` otherwise (Delta-style). A
    full rewrite (unpartitioned spec, or a plain parent) is a
    read-modify-write of the whole table: any concurrent commit
    conflicts — a blind overwrite would erase its rows.

    ``stats_for`` records per-file min/max for those columns on the
    rewritten files (carried partitions keep the parent's stats — their
    dirs are immutable); omitted, it inherits the parent's stat columns
    so stats survive across merges without re-requesting them.
    """
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        merge as M,
    )

    meta = _load_table_meta(path)  # one read feeds every commit hook
    if identity_column(path, meta):
        raise ValueError(
            "identity columns are supported on commit() tables only; "
            "MERGE keys rows by an explicit primary key"
        )
    cols = [f.name for f in spec.schema.fields]
    source = source.select(*cols)
    if check_source_unique:
        dup = (
            source.groupBy(spec.primary_key)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
        )
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"merge source has duplicate {spec.primary_key!r} keys"
            )
    parts = list(spec.partition_by)
    mapping: dict[str, str] = {}
    retired: set = set()
    base, target, affected = -1, None, None
    try:
        parent = load_snapshot(path)
    except FileNotFoundError:
        parent, merged = None, source  # initial commit
    if parent is not None:
        base = parent.version
        # column mapping flows through the merge like commit(): the
        # target reads back LOGICAL (read() translates), the merge plans
        # logically, and the rewrite lands PHYSICAL names so rewritten
        # and carried partitions agree column-for-column. Partition
        # columns are rename-guarded, so the hive layout itself never
        # needs translating.
        mapping = _mapping(parent)
        retired = set(parent.retired_physical or [])
        taken = set(mapping.values()) | retired
        clash = [c for c in cols if c not in mapping and c in taken]
        if clash:
            raise ValueError(
                f"merge_commit: column name(s) {clash} collide with "
                "physical names in use or retired by rename/drop; "
                "compact() to materialize the mapping first"
            )
        # rename_column refuses partition columns of partitioned
        # tables, but a plain mapped table being RE-partitioned here
        # could name a mapped column as the partition key — the hive
        # dir layout can't carry a logical→physical translation
        mapped_parts = [p for p in parts if mapping.get(p, p) != p]
        if mapped_parts:
            raise ValueError(
                f"merge_commit: partition column(s) {mapped_parts} are "
                "renamed via column mapping; compact() first to "
                "materialize the mapping into the data files"
            )
        target = read(spark, path).select(*cols)
        if parts and parent.part_entries is not None:
            # affected partitions in hive-directory form: the conflict
            # check and the carry-forward compare them with entry names
            scope = M.scoped_upsert(source, target, spec)
            source, target, merged = scope.source, scope.target, scope.merged
            affected = set(scope.dirs)
        else:
            # no partition-granular entries: merge against the FULL
            # target — a partition-scoped merge would silently drop
            # unaffected partitions from the result
            merged = M.merge_plan(source, target, spec)

    merged = _apply_constraint_guard(merged, path, meta)
    commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
    writer = _to_physical(merged, mapping).write.mode("errorifexists")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(commit_dir)
    extra = (
        {"change_data": _write_change_data(
            _merge_changes(spec, source, target), commit_dir, mapping
        )}
        if change_data
        else {}
    )
    stats_cols = _phys_cols(mapping, stats_for) if stats_for else None
    if parts:
        return _publish_rewrite(
            path, op, base, affected, commit_dir, parts,
            merged.schema.json(), (mapping, retired),
            stats_cols=stats_cols, extra=extra,
        )
    nf, nr = _dir_file_metrics([commit_dir])
    return _publish(
        path,
        op,
        lambda head, head_m: _Change(
            {"num_files_added": nf, "num_output_rows": nr},
            dirs=[commit_dir],
            schema=merged.schema.json(),
            kept=(),
            fresh=[commit_dir],
            stats_cols=stats_cols,
            extra=extra,
        ),
        base=base,
        written_under=(mapping, retired),
        create=True,
    )


def _merge_changes(
    spec, source: DataFrame, target: DataFrame | None
) -> DataFrame:
    """A MERGE's precise row-level changes: matched keys emit
    update_preimage+update_postimage (Delta's matched-row semantics:
    every matched row is an update), unmatched source keys emit insert;
    an initial commit is all inserts. Cost: source-scaled joins, never
    table-scaled."""
    keys = (
        [spec.primary_key]
        if isinstance(spec.primary_key, str)
        else list(spec.primary_key)
    )
    if target is None:
        return source.withColumn("_change_type", F.lit("insert"))
    pre = target.join(source, keys, "left_semi").withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = source.join(target, keys, "left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    ins = source.join(target, keys, "left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    return pre.unionByName(post).unionByName(ins)


def _write_change_data(
    changes: DataFrame, commit_dir: str, mapping: dict
) -> str:
    """Write a commit's change rows (Delta ``_change_data`` shape) under
    the commit dir — underscore-prefixed so no data scan (Spark or the
    tail source's file walk) ever reads it as rows. Columns land under
    PHYSICAL names + ``_change_type`` (``_to_physical`` passes unmapped
    names through) so the CDF stream's one mapping serves data and
    change files alike."""
    cdc_dir = os.path.join(commit_dir, "_change_data")
    _to_physical(changes, mapping).write.mode("errorifexists").parquet(
        cdc_dir
    )
    return cdc_dir


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    change_data: bool = False,
) -> int:
    """``DELETE FROM <table> WHERE predicate`` published as an atomic
    next version (Delta DELETE semantics: only rows whose predicate is
    TRUE go; a NULL predicate keeps the row). Returns the new version,
    or the unchanged head version when no row matches (no empty
    commit). ``change_data=True`` also records the deleted rows as
    precise ``delete`` change rows (see ``merge_commit``) so the change
    feed skips the rewritten partitions' carried-row churn.

    On a merge-committed (partition-granular) table only partitions that
    contain matching rows are rewritten — every other partition carries
    forward by reference, so DELETE cost scales with affected partitions,
    not table size (the GDPR-erasure shape: deleting one user touches
    only the partitions holding their rows). Fully-emptied partitions
    drop out of the manifest. Concurrency follows MERGE's rules: commits
    touching disjoint partitions rebase; overlapping ones conflict, and
    so does any concurrent commit under a plain-table delete.
    """
    base = load_snapshot(path)
    data = read(spark, path)
    cond = F.expr(predicate)
    mapping = _mapping(base)
    under = (mapping, set(base.retired_physical or []))
    parts = base.partition_by or []
    plain = base.part_entries is None or not parts
    if plain:
        if data.filter(cond).limit(1).count() == 0:
            return base.version
        survivors, affected = data, None
    else:
        from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
            merge as M,
        )

        # partition-granular: find partitions holding matching rows
        # (bounded by partition count — the same contract as merge's
        # scoped_upsert), named as the manifest's entries are
        # (hive-directory form, so a NULL value matches its
        # __HIVE_DEFAULT_PARTITION__ entry)
        _, dirs, part_match = M.partition_scope(
            data.filter(cond).select(*parts).distinct(), parts
        )
        if not dirs:
            return base.version
        survivors, affected = data.filter(part_match), set(dirs)
    commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
    # survivors read back logical; the rewrite lands physical names so
    # rewritten and carried partitions agree column-for-column
    writer = _to_physical(
        survivors.filter(~F.coalesce(cond, F.lit(False))), mapping
    ).write.mode("errorifexists")
    if not plain:
        writer = writer.partitionBy(*parts)
    writer.parquet(commit_dir)
    extra = (
        {"change_data": _write_change_data(
            data.filter(cond).withColumn("_change_type", F.lit("delete")),
            commit_dir,
            mapping,
        )}
        if change_data
        else {}
    )
    if not plain:
        return _publish_rewrite(
            path, "DELETE", base.version, affected, commit_dir, parts,
            base.schema_json, under, extra=extra,
        )
    nf, nr = _dir_file_metrics([commit_dir])
    return _publish(
        path,
        "DELETE",
        lambda head, head_m: _Change(
            {"num_files_added": nf, "num_output_rows": nr},
            dirs=[commit_dir],
            schema=base.schema_json,
            kept=(),
            fresh=[commit_dir],
            extra=extra,
        ),
        base=base.version,
        written_under=under,
    )


def delete_where_dv(
    spark: SparkSession,
    path: str,
    predicate: str,
) -> int:
    """Row-level DELETE via DELETION VECTORS (Delta's DV mechanism): no
    data file is rewritten — matching rows' physical addresses
    (file, row_idx) are written as a small tombstone parquet and the new
    manifest references it; every reader anti-joins tombstones at scan
    time. Returns the new version, or the unchanged head when no row
    matches.

    This is the sub-partition GDPR-erasure shape: deleting a handful of
    rows from a terabyte table costs one pruned scan + a tombstone write
    of deletion size, versus ``delete_where``'s partition rewrites.
    The trade is read-side: every scan pays a broadcast anti-join until
    ``compact`` (or any rewrite op) materializes the deletes and clears
    the vectors. Time travel still works — pre-delete versions don't
    reference the tombstones. ``table_stats``'s COUNT stays exact under
    DVs (delete-time per-file dead counts in the manifest); per-column
    min/max fail open to a scan while vectors exist.

    On merge-committed (partitioned) tables — the shape every curated
    table of the reference ships (orders_etl.py:74,
    order_items_etl.py:109) — the mechanism is identical (tombstones
    address (file, row_idx), layout-agnostic); the manifest carries the
    partition entries forward by reference, marking partitions holding
    tombstoned files ``changed`` so a concurrent MERGE into them
    conflicts instead of resurrecting the deleted rows from its
    pre-delete read.
    """
    cond = F.expr(predicate)
    return _delete_selected_dv(spark, path, lambda live: live.filter(cond))


_DELETE_KEY_CAP = 2048  # small key sets become literal predicates


def delete_matching_dv(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_cols: list[str],
    op: str = "DELETE",
) -> int:
    """Deletion-vector DELETE of every row whose ``key_cols`` tuple
    appears in ``keys_df`` (the MERGE ``WHEN MATCHED THEN DELETE`` /
    CDC-apply shape). Two regimes, the same cap discipline as the
    streaming fact mirror (``aggmaint._REPLACE_KEY_CAP``):

    * a SMALL single-column key set (≤ ``_DELETE_KEY_CAP`` distinct,
      one bounded collect) becomes a literal IN predicate — the scan
      prunes via parquet row-group min/max everywhere, and on plain
      snapshot tables additionally via the manifest's per-file
      stats/Blooms (files that provably hold none of the keys are
      never opened) — the per-batch CDC-delete shape, costed by files
      that COULD hold the keys, not table size;
    * otherwise the key set stays a DataFrame end-to-end and a
      left-semi join selects the doomed rows — a million-key delete
      never serializes into a predicate string or a driver IN-list.

    Same tombstone mechanism, retry/rebase, and metadata bookkeeping
    as :func:`delete_where_dv` (which see). ``op`` customizes the
    manifest op string (exactly-once batch markers ride it)."""
    keys = list(key_cols)
    lits = None
    if len(keys) == 1:
        sample = (
            keys_df.select(keys[0])
            .distinct()
            .limit(_DELETE_KEY_CAP + 1)
            .collect()
        )
        if len(sample) <= _DELETE_KEY_CAP:
            lits = [r[0] for r in sample if r[0] is not None]
    if lits is not None:
        if not lits:
            return load_snapshot(path).version  # nothing can match
        return _delete_selected_dv(
            spark,
            path,
            lambda live: live.filter(_in_list(keys[0], lits)),
            op=op,
            prune=(keys[0], lits),
        )

    def _select(live: DataFrame) -> DataFrame:
        return live.join(keys_df.select(*keys).distinct(), keys, "left_semi")

    return _delete_selected_dv(spark, path, _select, op=op)


def _delete_selected_dv(
    spark: SparkSession,
    path: str,
    selector,
    op: str = "DELETE",
    prune: tuple | None = None,
) -> int:
    def build(snap, snap_m):
        raw = None
        if prune is not None and snap.part_entries is None:
            # manifest-level file skipping for the tombstone scan
            # (plain tables; the kept-file read loses hive columns, so
            # partitioned tables take the full scan below — their
            # parquet reader still row-group-skips on the IN filter)
            col, lits = prune
            phys = _mapping(snap).get(col, col)
            fs, fb = snap.file_stats or {}, snap.file_blooms or {}
            if fs or fb:
                preds = [(phys, "in", list(lits))]
                kept = [
                    f
                    for f in data_files(path, snap.version)
                    if _file_maybe_matches(fs.get(f), preds, fb.get(f))
                ]
                if not kept:
                    return None  # no file can hold the keys
                raw = _addressed(spark, snap, kept)
        if raw is None:
            raw = _scan_with_address(spark, snap)
        raw = _dv_filter(raw, _dv_tombstones(spark, snap))
        live = _logical_select(raw, snap, extra=("__fp", "__ri"))
        dels = selector(live).select(
            F.col("__fp").alias("file"), F.col("__ri").alias("row_idx")
        )
        dv_dir = os.path.join(path, _DATA, f"dv-{uuid.uuid4().hex}")
        dels.coalesce(1).write.mode("errorifexists").parquet(dv_dir)
        # per-file tombstone counts — bounded by tombstoned-FILE count
        # (manifest scale); they feed the exact metadata-only COUNT and
        # the partitioned changed-flags, one tiny read for both
        dead = _dv_dead_counts(spark, dv_dir)
        if not dead:
            shutil.rmtree(dv_dir, ignore_errors=True)
            return None
        entries = None
        if snap.part_entries is not None:
            affected = _dv_affected_partitions(snap, set(dead))
            entries = [
                {**e, "changed": tuple(e["parts"]) in affected}
                for e in snap.part_entries
            ]
        return _Change(
            {
                "num_deleted_rows": sum(dead.values()),
                "num_files_with_dv": len(dead),
                "num_dv_files_added": 1,
            },
            dirs=snap.dirs,
            schema=snap.schema_json,
            entries=entries,
            partition_by=snap.partition_by,
            dv_dir=dv_dir,
            dead=dead,
            orphans=(dv_dir,),
        )

    return _publish(path, op, build)


# Above this many tombstone rows, per-file dead counts go through a
# Spark aggregation job; below it, a single-column pyarrow read on the
# driver answers in-process (micro-batch deletes are the common case,
# and the Spark job costs a full driver round-trip per commit). The
# footer row count decides, so the driver never reads an unbounded
# column blind.
_DV_COUNT_DRIVER_MAX_ROWS = 4_000_000


def _dv_dead_counts(spark: SparkSession, dv_dir: str) -> dict[str, int]:
    """{tombstoned file path (_metadata format): n dead rows} for one
    freshly written tombstone dir — result bounded by the distinct
    tombstoned FILE count (manifest scale, not row scale). Small
    tombstone sets (footer row count, no data I/O) are counted with one
    driver-side pyarrow value_counts over the ``file`` column; larger
    ones keep the Spark aggregation so driver memory stays bounded."""
    import pyarrow.parquet as pq

    paths = _parquet_files(dv_dir)
    total = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    if total <= _DV_COUNT_DRIVER_MAX_ROWS:
        out: dict[str, int] = {}
        for p in paths:
            vc = pq.read_table(p, columns=["file"]).column("file")
            for ent in vc.value_counts().to_pylist():
                out[ent["values"]] = (
                    out.get(ent["values"], 0) + ent["counts"]
                )
        return out
    return {
        r["file"]: r["n"]
        for r in spark.read.schema(_DV_SCHEMA)
        .parquet(dv_dir)
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _dv_affected_partitions(
    snap: Snapshot, files: set[str]
) -> set[tuple[str, ...]]:
    """Partition-value tuples whose files a tombstone set addresses —
    the partitions a DV commit must mark ``changed`` so concurrent
    merges into them rebase-conflict."""
    stripped = {_strip_file_scheme(f) for f in files}
    out: set[tuple[str, ...]] = set()
    for e in snap.part_entries or []:
        pref = e["dir"].rstrip(os.sep) + os.sep
        if any(f.startswith(pref) for f in stripped):
            out.add(tuple(e["parts"]))
    return out


def _strip_file_scheme(p: str) -> str:
    """``_metadata.file_path`` URIs ('file:/x', 'file:///x',
    URL-encoded: '/my table' → 'file:/my%20table') → local disk paths,
    so they compare against manifest dirs. unquote is the exact inverse
    of the encoder (a literal '%' arrives as '%25')."""
    from urllib.parse import unquote

    if p.startswith("file://"):
        return unquote(p[7:])
    if p.startswith("file:"):
        return unquote(p[5:])
    return p


def update_where_dv(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_map: dict[str, str],
) -> int:
    """``UPDATE <table> SET col = expr WHERE predicate`` via deletion
    vectors: matching rows are tombstoned in place (no data file
    rewritten) and their updated images are appended as a fresh commit
    dir — BOTH referenced by one atomic manifest publish, so readers see
    the update all-or-nothing. Returns the new version, or the unchanged
    head when no row matches.

    Cost = one scan + a write of UPDATE-sized data — independent of
    table size, the same few-rows-in-a-huge-table shape as
    ``delete_where_dv`` (which see, for the read-side trade and the
    partitioned-table mechanics). ``set_map`` maps column name → SQL
    expression evaluated on the matching row (e.g. ``{"price":
    "price * 1.1"}``).

    On merge-committed tables, updated images are written
    hive-partitioned and join the manifest as ADDITIONAL entries for
    their partitions (a partition may hold several entries); an update
    that changes a partition-column value moves the row — the tombstone
    kills the old location, the image lands in the new partition, and
    both partitions are marked ``changed`` for conflict detection.
    """
    unknown_cols = set(set_map)
    cond = F.expr(predicate)
    meta = _load_table_meta(path)  # one read feeds every commit hook

    def build(snap, snap_m):
        parts = list(snap.partition_by or [])
        schema = StructType.fromJson(json.loads(snap.schema_json))
        bad = unknown_cols - {f.name for f in schema.fields}
        if bad:
            raise ValueError(f"SET on unknown columns: {sorted(bad)}")
        raw = _dv_filter(
            _scan_with_address(spark, snap), _dv_tombstones(spark, snap)
        )
        live = _logical_select(raw, snap, extra=("__fp", "__ri")).filter(
            cond
        )
        # one pass computes both halves; cache so the tombstone write
        # and the updated-image write agree even on a flaky predicate
        live = live.cache()
        try:
            if not live.take(1):
                return None
            dv_dir = os.path.join(path, _DATA, f"dv-{uuid.uuid4().hex}")
            live.select(
                F.col("__fp").alias("file"),
                F.col("__ri").alias("row_idx"),
            ).coalesce(1).write.mode("errorifexists").parquet(dv_dir)
            updated = live.select(
                *[
                    F.expr(set_map[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in set_map
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            # same CHECK-constraint enforcement as every other write
            # path: a violating updated image fails inside this write,
            # before publication
            updated = _apply_constraint_guard(updated, path, meta)
            commit_dir = os.path.join(
                path, _DATA, f"commit-{uuid.uuid4().hex}"
            )
            writer = _to_physical(updated, _mapping(snap)).write.mode(
                "errorifexists"
            )
            if snap.part_entries is not None:
                writer = writer.partitionBy(*parts)
            writer.parquet(commit_dir)
        finally:
            live.unpersist()
        dead = _dv_dead_counts(spark, dv_dir)
        nf, nr = _dir_file_metrics([commit_dir])
        entries = None
        if snap.part_entries is not None:
            fresh = _fresh_entries(commit_dir, parts, True)
            affected = _dv_affected_partitions(snap, set(dead)) | {
                tuple(e["parts"]) for e in fresh
            }
            entries = [
                {**e, "changed": tuple(e["parts"]) in affected}
                for e in snap.part_entries
            ] + fresh
        return _Change(
            {
                "num_updated_rows": sum(dead.values()),
                "num_files_added": nf,
                "num_output_rows": nr,
            },
            dirs=snap.dirs + [commit_dir],
            schema=snap.schema_json,
            entries=entries,
            partition_by=parts,
            fresh=[commit_dir],
            dv_dir=dv_dir,
            dead=dead,
            orphans=(dv_dir, commit_dir),
        )

    return _publish(path, "UPDATE", build)


def replace_where_commit(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    predicates: list[tuple] | None = None,
    keys: DataFrame | None = None,
    key_cols: list[str] | None = None,
    stats_for: list[str] | None = None,
    bloom_for: list[str] | None = None,
    report: dict | None = None,
) -> int:
    """Delta's ``replaceWhere`` as ONE atomic commit, via deletion
    vectors: every live row matching the scope is tombstoned AND ``df``
    is appended, both referenced by a single manifest publish — readers
    see the swap all-or-nothing, and no existing data file is rewritten.
    Cost = one (pruned) scan for the tombstones + a write of
    ``df``-sized data — independent of table size, the incremental
    alternative to overwriting a whole table to change one key range.

    The scope is either ``predicates`` — the ``read_where`` conjunction
    ``(col, op, literal)`` with op in ``== < <= > >= in`` — or a
    ``keys`` DataFrame equi-matched on ``key_cols`` (for scopes too
    wide for a literal IN-list). With ``predicates``, the tombstone
    scan SKIPS files the manifest's per-file min/max and Bloom stats
    disprove (pass ``report`` to receive files_total/files_kept), so a
    narrow replace over a huge table touches only the files that can
    hold the scope. NULL key values never match either scope form (SQL
    equality), exactly like Delta's replaceWhere predicate.

    ``stats_for``/``bloom_for`` default to the table's existing
    stats/bloom columns so appended files stay prunable. Plain
    (unpartitioned) snapshot tables only — partitioned tables express
    scoped replacement through ``merge_commit``/``update_where_dv``,
    whose manifests carry partitions by reference.
    """
    if (predicates is None) == (keys is None):
        raise ValueError("pass exactly one of predicates / (keys, key_cols)")
    if keys is not None and not key_cols:
        raise ValueError("keys requires key_cols")
    if predicates is not None:
        for p in predicates:
            if len(p) != 3 or p[1] not in _PRUNE_OPS:
                raise ValueError(f"bad predicate {p!r}; ops: {_PRUNE_OPS}")
    head = load_snapshot(path)
    if head.part_entries is not None:
        raise ValueError(
            "replace_where_commit targets plain snapshot tables; on "
            "partitioned tables use merge_commit/update_where_dv"
        )
    pfields = StructType.fromJson(json.loads(head.schema_json)).fields
    if [(f.name, f.dataType) for f in pfields] != [
        (f.name, f.dataType) for f in df.schema.fields
    ]:
        raise ValueError(
            "replacement schema differs from table schema"
        )
    # column mapping: the replacement frame and scope are LOGICAL; the
    # data write and the tombstone scan run under PHYSICAL names (the
    # same seam as commit()/read_where). Captured ONCE here — a
    # concurrent RENAME/DROP conflicts inside the commit loop.
    mapping = _mapping(head)
    retired = set(head.retired_physical or [])
    df = _apply_constraint_guard(df, path, _load_table_meta(path))
    # the replacement data is scope-independent: write it once, reuse
    # across lost publish races (same pattern as commit())
    commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
    _to_physical(df, mapping).write.mode("errorifexists").parquet(
        commit_dir
    )
    nf, nr = _dir_file_metrics([commit_dir])

    def build(snap, snap_m):
        fs, fb = snap.file_stats or {}, snap.file_blooms or {}
        # tombstone scan over the PRE-append head (commit_dir is not in
        # snap.dirs yet, so the fresh rows can never self-tombstone)
        if predicates is not None:
            # stats/blooms and the files are keyed by PHYSICAL names
            phys_preds = [
                (mapping.get(c, c), op_, v) for (c, op_, v) in predicates
            ]
            all_files = data_files(path, snap.version)
            kept = [
                f
                for f in all_files
                if _file_maybe_matches(fs.get(f), phys_preds, fb.get(f))
            ]
            if report is not None:
                report["files_total"] = len(all_files)
                report["files_kept"] = len(kept)
            dels = None
            if kept:
                marked = _addressed(spark, snap, kept)
                dels = _dv_filter(
                    marked, _dv_tombstones(spark, snap)
                ).filter(_residual(phys_preds))
        else:
            marked = _dv_filter(
                _scan_with_address(spark, snap),
                _dv_tombstones(spark, snap),
            )
            # key columns are logical: project through the read seam
            # before the semi-join (identity projection when unmapped)
            marked = _logical_select(
                marked, snap, extra=("__fp", "__ri")
            )
            dels = marked.join(
                keys.select(*key_cols).distinct(), key_cols, "left_semi"
            )
        dead: dict[str, int] = {}
        dv_dir = os.path.join(path, _DATA, f"dv-{uuid.uuid4().hex}")
        if dels is not None:
            dels.select(
                F.col("__fp").alias("file"), F.col("__ri").alias("row_idx")
            ).coalesce(1).write.mode("errorifexists").parquet(dv_dir)
            dead = _dv_dead_counts(spark, dv_dir)
        if not dead:
            shutil.rmtree(dv_dir, ignore_errors=True)
            dv_dir = None
        return _Change(
            {
                "num_deleted_rows": sum(dead.values()),
                "num_files_added": nf,
                "num_output_rows": nr,
            },
            dirs=snap.dirs + [commit_dir],
            schema=snap.schema_json,
            fresh=[commit_dir],
            stats_cols=_phys_cols(mapping, stats_for) if stats_for else None,
            bloom_cols=_phys_cols(mapping, bloom_for) if bloom_for else None,
            dv_dir=dv_dir,
            dead=dead,
            orphans=(dv_dir,) if dv_dir else (),
        )

    return _publish(
        path, "REPLACEWHERE", build, written_under=(mapping, retired)
    )


def snapshot_diff(
    spark: SparkSession,
    path: str,
    key: str | list[str],
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Change-data feed between two committed versions (the Delta CDF /
    ``table_changes`` shape): one row per change with ``_change_type`` in
    ``insert | delete | update_preimage | update_postimage``, keyed by
    ``key``. Updates emit both images, Delta-style. Endpoints address
    by version or by commit time (``from_timestamp``/``to_timestamp``,
    Delta's ``table_changes(..., start_ts, end_ts)`` — resolved through
    ``version_at_timestamp``).

    Scale: on merge-committed tables, partitions whose manifest entry
    points at the *same immutable data dir* in both versions are pruned
    from the comparison entirely — commit dirs are never rewritten in
    place, so an identical reference proves identical rows. Diff cost
    follows changed partitions, not table size. (A compaction rewrites
    every dir, so a diff spanning one degrades to a full compare and
    correctly reports zero changes.)
    """
    keys = [key] if isinstance(key, str) else list(key)
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError("pass from_version OR from_timestamp")
        from_version = version_at_timestamp(path, from_timestamp)
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR to_timestamp")
        to_version = version_at_timestamp(path, to_timestamp)
    if from_version is None:
        raise ValueError("a from_version or from_timestamp is required")
    old_snap = load_snapshot(path, from_version)
    new_snap = load_snapshot(path, to_version)
    prune: set[tuple[str, ...]] | None = None
    if (
        old_snap.part_entries is not None
        and new_snap.part_entries is not None
        # with deletion vectors, identical dir references no longer
        # prove identical rows (tombstones change rows without touching
        # dirs) — prune only when both versions carry the same vectors
        and (old_snap.dv_files or []) == (new_snap.dv_files or [])
    ):
        from collections import defaultdict

        # a partition may hold SEVERAL entries (e.g. original files plus
        # DV-update image dirs): identity means the full dir multiset
        # matches, not whichever entry a dict comprehension kept last
        old_dirs: dict = defaultdict(list)
        new_dirs: dict = defaultdict(list)
        for e in old_snap.part_entries:
            old_dirs[tuple(e["parts"])].append(e["dir"])
        for e in new_snap.part_entries:
            new_dirs[tuple(e["parts"])].append(e["dir"])
        prune = {
            pt
            for pt, ds in old_dirs.items()
            if sorted(new_dirs.get(pt, [])) == sorted(ds)
        }
    old = _read_snapshot_pruned(spark, path, old_snap, prune)
    new = _read_snapshot_pruned(spark, path, new_snap, prune)

    # align the old side to the new schema (evolution adds columns; a
    # version that predates one reads as null there)
    schema = StructType.fromJson(json.loads(new_snap.schema_json))
    cols = [f.name for f in schema.fields]
    old_have = set(old.columns)
    old = old.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in old_have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    return diff_frames(old, new, keys)


def diff_frames(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """The CDC classification core (shared by ``snapshot_diff`` and the
    catalog's oracle-checked sim): one full-outer join on ``keys``, one
    pass, emitting ``insert | delete | update_preimage |
    update_postimage`` rows. Updates are detected with a single
    null-safe struct comparison over the non-key columns."""
    cols = new.columns
    vals = [c for c in cols if c not in keys]
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in vals],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in vals],
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, keys, "full_outer")
    in_old = F.col("__in_old").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    differs = ~F.struct(*[F.col(f"__o_{c}") for c in vals]).eqNullSafe(
        F.struct(*[F.col(f"__n_{c}") for c in vals])
    )

    def img(side: str, ct: str):
        return F.struct(
            *[F.col(f"__{side}_{c}").alias(c) for c in vals],
            F.lit(ct).alias("_change_type"),
        )

    changes = F.array_compact(
        F.array(
            F.when(~in_old & in_new, img("n", "insert")),
            F.when(in_old & ~in_new, img("o", "delete")),
            F.when(in_old & in_new & differs, img("o", "update_preimage")),
            F.when(in_old & in_new & differs, img("n", "update_postimage")),
        )
    )
    return (
        j.select(*keys, F.explode(changes).alias("__c"))
        .select(*keys, *[F.col(f"__c.{c}") for c in vals], "__c._change_type")
    )


def _read_snapshot_pruned(
    spark: SparkSession,
    path: str,
    snap: Snapshot,
    prune: set[tuple[str, ...]] | None,
) -> DataFrame:
    """Read a snapshot, skipping partition entries in ``prune`` (entries
    proven unchanged by dir identity). Falls back to a full read for
    plain snapshots."""
    if snap.part_entries is None or not prune:
        return read(spark, path, snap.version)
    import dataclasses

    kept = [e for e in snap.part_entries if tuple(e["parts"]) not in prune]
    if not kept:
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap.schema_json))
        )
    scoped = dataclasses.replace(snap, part_entries=kept)
    return _logical_select(
        _dv_filter(
            _scan_with_address(spark, scoped), _dv_tombstones(spark, snap)
        ),
        snap,
    )


_TABLE_META = "_table_meta.json"


def _load_table_meta(path: str) -> dict:
    try:
        with open(os.path.join(path, _TABLE_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _store_table_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _TABLE_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, _TABLE_META))


def derive_partition_column(
    df: DataFrame, kind: str, source: str, part: str, n: int | None = None
) -> DataFrame:
    """Append the derived partition column for an Iceberg-style partition
    transform: ``days`` (days since epoch of a timestamp/date) or
    ``bucket`` (Knuth-hash mod n of an integer key). Pair with
    ``set_partition_transform`` so read_where can transpose predicates
    on the SOURCE column into partition pruning."""
    if kind == "days":
        return df.withColumn(
            part,
            F.datediff(
                F.col(source).cast("date"), F.to_date(F.lit("1970-01-01"))
            ),
        )
    if kind == "bucket":
        if not n:
            raise ValueError("bucket transform needs n")
        from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.sampling import (
            KNUTH,
        )

        return df.withColumn(
            part, F.pmod(F.col(source).cast("long") * F.lit(KNUTH), F.lit(n))
        )
    raise ValueError(f"unknown transform kind {kind!r}")


def set_partition_transform(
    path: str, part: str, kind: str, source: str, n: int | None = None
) -> None:
    """Declare that partition column ``part`` was derived from ``source``
    by ``kind`` (the Iceberg hidden-partitioning contract): read_where
    then transposes predicates on the source column into partition
    pruning, so queries never mention the derived column."""
    if kind not in ("days", "bucket"):
        raise ValueError(f"unknown transform kind {kind!r}")
    meta = _load_table_meta(path)
    meta.setdefault("transforms", []).append(
        {"part": part, "kind": kind, "source": source, "n": n}
    )
    _store_table_meta(path, meta)


def partition_transforms(path: str, meta: dict | None = None) -> list[dict]:
    if meta is None:
        meta = _load_table_meta(path)
    return list(meta.get("transforms", []))


def _transform_value(t: dict, val):
    import datetime as _dt

    if t["kind"] == "days":
        if isinstance(val, _dt.datetime):
            val = val.date()
        if not isinstance(val, _dt.date):
            return None
        return (val - _dt.date(1970, 1, 1)).days
    if t["kind"] == "bucket":
        if not isinstance(val, int):
            return None
        from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.sampling import (
            KNUTH,
        )

        return (val * KNUTH) % t["n"]
    return None


def _transposed_predicates(path: str, predicates: list[tuple]) -> list[tuple]:
    """Derived-column predicates implied by source-column conjuncts.
    ``days`` is order-preserving (ranges weaken to the containing day);
    ``bucket`` transposes equality only."""
    out: list[tuple] = []
    for t in partition_transforms(path):
        for col, op, val in predicates:
            if col != t["source"] or op in ("is_null", "not_null"):
                continue
            if op == "in":
                dvals = [_transform_value(t, v) for v in val]
                if all(d is not None for d in dvals):
                    out.append((t["part"], "in", dvals))
                continue
            dval = _transform_value(t, val)
            if dval is None:
                continue
            if t["kind"] == "bucket":
                if op == "==":
                    out.append((t["part"], "==", dval))
                continue
            dop = {"==": "==", "<": "<=", "<=": "<=", ">": ">=", ">=": ">="}[
                op
            ]
            out.append((t["part"], dop, dval))
    return out


def set_check_constraint(path: str, name: str, expression: str) -> None:
    """Register a CHECK constraint (a boolean SQL expression every row of
    every future commit must satisfy — Delta's ``ADD CONSTRAINT``)."""
    meta = _load_table_meta(path)
    meta.setdefault("constraints", {})[name] = expression
    _store_table_meta(path, meta)


def drop_check_constraint(path: str, name: str) -> None:
    meta = _load_table_meta(path)
    meta.get("constraints", {}).pop(name, None)
    _store_table_meta(path, meta)


def check_constraints(path: str, meta: dict | None = None) -> dict[str, str]:
    if meta is None:
        meta = _load_table_meta(path)
    return dict(meta.get("constraints", {}))


def set_generated_column(path: str, col: str, expression: str) -> None:
    """Register a generated column (Delta's ``GENERATED ALWAYS AS``):
    every future write either omits ``col`` — it is computed from
    ``expression`` inside the write — or supplies values that
    null-safe-equal the expression (enforced like a CHECK constraint,
    failing the write before publication)."""
    meta = _load_table_meta(path)
    meta.setdefault("generated", {})[col] = expression
    _store_table_meta(path, meta)


def drop_generated_column(path: str, col: str) -> None:
    meta = _load_table_meta(path)
    meta.get("generated", {}).pop(col, None)
    _store_table_meta(path, meta)


def generated_columns(path: str, meta: dict | None = None) -> dict[str, str]:
    if meta is None:
        meta = _load_table_meta(path)
    return dict(meta.get("generated", {}))


_IDENT = "_identity"


def set_identity_column(path: str, col: str, start: int = 1) -> None:
    """Register an identity column (Delta's ``GENERATED ALWAYS AS
    IDENTITY``): writes must OMIT ``col`` — ``commit`` assigns each row
    a unique BIGINT greater than every previously assigned value.
    Values come from ranges reserved in an O_EXCL allocation log (the
    same publication protocol as manifests), so CONCURRENT writers
    never collide and a crashed write simply burns its range — gaps
    are part of the identity contract, exactly as in Delta. The
    watermark survives overwrites (ids never repeat across the
    table's whole history)."""
    meta = _load_table_meta(path)
    meta["identity"] = {"col": col, "start": int(start)}
    _store_table_meta(path, meta)


def identity_column(path: str, meta: dict | None = None) -> dict | None:
    if meta is None:
        meta = _load_table_meta(path)
    return meta.get("identity")


def _identity_head(path: str, start: int) -> tuple[int, int]:
    """(latest allocation seq, current high watermark)."""
    d = os.path.join(path, _IDENT)
    try:
        seqs = sorted(
            int(n.split(".")[0])
            for n in os.listdir(d)
            if n.endswith(".json")
        )
    except FileNotFoundError:
        seqs = []
    if not seqs:
        return -1, start - 1
    with open(os.path.join(d, f"{seqs[-1]:010d}.json")) as f:
        return seqs[-1], int(json.load(f)["high"])


def _allocate_identity_range(
    path: str, span: int, start: int, max_retries: int = 50
) -> int:
    """Atomically reserve the id range (base, base+span]; returns base.
    Content is written to a temp file and published by ``os.link`` (an
    atomic create-if-absent with the bytes already durable), so a
    reader can never observe a torn allocation."""
    d = os.path.join(path, _IDENT)
    os.makedirs(d, exist_ok=True)
    for _ in range(max_retries):
        seq, high = _identity_head(path, start)
        target = os.path.join(d, f"{seq + 1:010d}.json")
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"high": high + span}, f)
        try:
            os.link(tmp, target)
        except FileExistsError:
            continue  # lost the race: re-read the new head
        finally:
            os.unlink(tmp)
        return high
    raise RuntimeError(f"identity allocation contention at {path}")


def _stamp_identity(
    df: DataFrame, path: str, meta: dict | None = None
) -> DataFrame:
    """Assign identity values for a write that omits the column. The
    input is pinned by ``localCheckpoint`` so the partition count (the
    range-span bound: ids are ``base + 1 + partition<<33 + row``) and
    row membership cannot shift between sizing and stamping."""
    ident = identity_column(path, meta)
    if not ident:
        return df
    icol = ident["col"]
    if icol in df.columns:
        raise ValueError(
            f"column {icol!r} is GENERATED ALWAYS AS IDENTITY; "
            "omit it from writes"
        )
    df = df.localCheckpoint(eager=True)
    span = max(1, df.rdd.getNumPartitions()) << 33
    base = _allocate_identity_range(path, span, ident["start"])
    return df.withColumn(
        icol,
        (F.lit(base + 1) + F.monotonically_increasing_id()).cast("long"),
    )


def _apply_constraint_guard(
    df: DataFrame, path: str, meta: dict | None = None
) -> DataFrame:
    """Apply the table's write rules with zero extra scans: generated
    columns are computed (when omitted) or validated (when supplied —
    value must null-safe-equal the expression), then CHECK constraints
    are enforced by wrapping the first column in a ``raise_error``
    guard evaluated during the data write itself, so a violating row
    fails the write job *before* publication (the crashed commit dir is
    unreferenced — vacuum fodder), exactly like Delta's per-task
    invariant checks. No pre-scan, no second pass."""
    constraints = check_constraints(path, meta)
    for col, expr in generated_columns(path, meta).items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            # synthesized invariant, same guard machinery as CHECK
            constraints = {
                **constraints,
                f"generated column {col}": f"{col} <=> ({expr})",
            }
    if not constraints:
        return df
    first = df.schema.fields[0]
    guard = F.col(first.name)
    for cname, expr in constraints.items():
        ok = F.coalesce(F.expr(expr), F.lit(False))
        guard = F.when(
            ~ok,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"CHECK constraint {cname!r} ({expr}) violated by "
                        "row: "
                    ),
                    F.to_json(F.struct(*df.columns)),
                )
            ).cast(first.dataType),
        ).otherwise(guard)
    return df.withColumn(first.name, guard)


def _fresh_entries(
    commit_dir: str, parts: list[str], changed: bool
) -> list[dict]:
    """Partition entries for the hive-partitioned write in
    ``commit_dir``."""
    return [
        {"parts": list(pt), "base": commit_dir, "dir": d, "changed": changed}
        for pt, d in _hive_leaf_dirs(commit_dir, parts).items()
    ]


def _hive_leaf_dirs(
    commit_dir: str, parts: list[str]
) -> dict[tuple[str, ...], str]:
    """Map partition-value tuples -> hive subdir for a partitioned write."""
    out: dict[tuple[str, ...], str] = {}

    from urllib.parse import unquote

    def walk(d: str, vals: tuple[str, ...], depth: int) -> None:
        if depth == len(parts):
            out[vals] = d
            return
        for name in os.listdir(d):
            if name.startswith(f"{parts[depth]}="):
                # Spark hive-escapes partition values in dir names
                # ('North America' → 'North%20America'); unquote so the
                # keys compare equal to scoped_upsert()'s unescaped
                # directory values — otherwise an escapable value keeps
                # its stale carried entry AND gains a fresh one
                walk(
                    os.path.join(d, name),
                    vals + (unquote(name.split("=", 1)[1]),),
                    depth + 1,
                )

    walk(commit_dir, (), 0)
    return out


def compact(
    spark: SparkSession,
    path: str,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
) -> int:
    """OPTIMIZE: rewrite the head snapshot's data into fresh, well-sized
    files and publish it as the next version. Logical rows are untouched
    — compaction is pure layout maintenance (the small-file debt of many
    merge/append commits), and time travel to pre-compaction versions
    still resolves (``vacuum`` is what eventually drops their dirs).

    ``cluster_by`` is Delta's ``OPTIMIZE ... ZORDER BY``: the rewrite
    additionally clusters rows so each fresh file covers a narrow
    min/max window on the cluster columns (single column → range
    partition+sort; several → ``layout.z_value`` interleave;
    ``n_files`` sizes the unpartitioned clustered rewrite). On
    hive-partitioned tables clustering applies WITHIN each partition
    (sort inside the partition's tasks — file count follows the
    rebalance, so ``n_files`` is not consulted there, nor without
    ``cluster_by``). Pair with the table's ``stats_cols`` so
    ``read_where`` skipping bites after the rewrite.

    Concurrency: the rewrite reads one snapshot; if ANY commit lands
    before publication the whole pass restarts from the new head
    (publishing stale data would silently drop the interleaved commit's
    rows). Compaction commits mark every partition ``changed=False`` so
    a concurrent merge rebases across them without conflict — the
    logical data it merged against is identical.
    """
    def build(base, base_m):
        data = read(spark, path, base.version)
        parts = base.partition_by or []
        commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
        cluster = [c for c in (cluster_by or []) if c not in parts]
        if parts:
            # one task per partition value (rebalance lets AQE split hot
            # values), one well-sized file per task; cluster columns
            # sort WITHIN the partition's tasks
            shaped = data.hint("rebalance", *parts)
            if cluster:
                shaped = shaped.sortWithinPartitions(*parts, *cluster)
            shaped.write.mode("errorifexists").partitionBy(
                *parts
            ).parquet(commit_dir)
        elif cluster:
            _cluster_shape(data, cluster, n_files).write.mode(
                "errorifexists"
            ).parquet(commit_dir)
        else:
            data.hint("rebalance").write.mode("errorifexists").parquet(
                commit_dir
            )
        nf, nr = _dir_file_metrics([commit_dir])
        # compact MATERIALIZES the column mapping: read() yields
        # logical names, so the rewrite lands logical-named files with
        # dropped columns physically gone — the fresh manifest clears
        # the mapping and re-keys stats/blooms to the now-logical
        # on-disk names.
        inv = {p: l for l, p in _mapping(base).items()}
        live_cols = set(data.columns)  # drops fall out of the rewrite

        def logical(cols):
            return [
                inv.get(c, c) for c in cols or [] if inv.get(c, c) in live_cols
            ]

        entries = None
        if base.part_entries is not None:
            entries = _fresh_entries(commit_dir, parts, False)
        return _Change(
            {
                "num_files_added": nf,
                "num_files_removed": len(data_files(path, base.version)),
                "num_output_rows": nr,
                "num_dv_files_cleared": len(base.dv_files or []),
            },
            dirs=[commit_dir],
            schema=base.schema_json,
            entries=entries,
            partition_by=parts,
            kept=(),
            fresh=[commit_dir],
            stats_cols=logical(base.stats_cols),
            bloom_cols=logical(base.bloom_cols),
            extra={"column_mapping": None, "retired_physical": None},
            orphans=(commit_dir,),
        )

    return _publish(path, "OPTIMIZE", build)


def compact_where(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    cluster_by: list[str] | None = None,
) -> int | None:
    """``OPTIMIZE <table> WHERE <partition predicate>`` — rewrite ONLY
    the partitions the predicate selects; everything else carries by
    reference. The 100 TB compaction shape: a streaming MERGE leaves
    small-file debt in today's partition only, so layout maintenance
    must cost O(today), never O(table) — full ``compact`` at that scale
    is a non-starter. Returns the new version, or None when no
    partition matches.

    ``predicates`` use the ``read_where`` conjunction form and must
    bind to PARTITION columns only (a non-partition predicate here
    would silently drop the rows it filters from the rewritten
    partitions). Partition selection is conservative (fail-open): a
    value the matcher cannot coerce rewrites that partition rather
    than risk losing it — extra work, never loss; the rows rewritten
    are BY CONSTRUCTION exactly the affected entries' rows (scanned
    from their dirs, DV-filtered, so tombstones materialize for the
    rewritten scope and stay referenced for the carried scope).
    ``cluster_by`` sorts within the rewritten partitions (scoped
    ZORDER). Rewritten partitions publish ``changed=False`` — logical
    rows are untouched, so concurrent merges rebase across the
    compaction without conflict, exactly like full ``compact``. A
    conflicting commit into the scope restarts the pass from the new
    head (publishing the stale rewrite would drop its rows)."""
    import dataclasses

    for p in predicates:
        if len(p) != 3 or p[1] not in _PRUNE_OPS:
            raise ValueError(f"bad predicate {p!r}; ops: {_PRUNE_OPS}")
    for _ in range(_MAX_ATTEMPTS):
        base = load_snapshot(path)
        if base.part_entries is None:
            raise ValueError(
                "compact_where needs a merge-committed (partitioned) "
                "table; use compact() on plain tables"
            )
        parts = list(base.partition_by or [])
        pidx = {c: i for i, c in enumerate(parts)}
        bad = [c for (c, _, _) in predicates if c not in pidx]
        if bad:
            raise ValueError(
                f"compact_where predicates must bind partition columns "
                f"{parts}; got {bad}"
            )
        hit = [
            e
            for e in base.part_entries
            if _part_maybe_matches(e["parts"], pidx, predicates)
        ]
        if not hit:
            return None
        scoped = dataclasses.replace(base, part_entries=hit)
        data = _logical_select(
            _dv_filter(
                _scan_with_address(spark, scoped),
                _dv_tombstones(spark, base),
            ),
            base,
        )
        cluster = [c for c in (cluster_by or []) if c not in parts]
        shaped = data.hint("rebalance", *parts)
        if cluster:
            shaped = shaped.sortWithinPartitions(*parts, *cluster)
        commit_dir = os.path.join(path, _DATA, f"commit-{uuid.uuid4().hex}")
        # a SCOPED compaction cannot materialize the mapping away (the
        # carried partitions keep physical names), so rewritten files
        # land physical too — only full compact() clears the mapping
        mapping = _mapping(base)
        _to_physical(shaped, mapping).write.mode(
            "errorifexists"
        ).partitionBy(*parts).parquet(commit_dir)
        try:
            return _publish_rewrite(
                path, "OPTIMIZE", base.version,
                {tuple(e["parts"]) for e in hit}, commit_dir, parts,
                base.schema_json,
                (mapping, set(base.retired_physical or [])),
                fresh_changed=False,
            )
        except WriteConflict:
            shutil.rmtree(commit_dir, ignore_errors=True)
    raise RuntimeError(
        f"compact_where contention at {path}: {_MAX_ATTEMPTS} restarts"
    )


def maybe_compact(
    spark: SparkSession,
    path: str,
    max_small_files: int = 8,
    small_bytes: int = 32 << 20,
    **compact_kwargs,
) -> int | None:
    """Auto-OPTIMIZE policy (Delta's auto compaction, explicit): measure
    the table's small-file + deletion-vector debt from the manifest and
    ``os.stat`` alone, and run ``compact`` only when it exceeds the
    threshold — returns the new version, or None when the layout is
    healthy. Debt = live data files smaller than ``small_bytes`` plus
    DV tombstone file sets (each is a read-time anti-join a compaction
    folds away). Streaming twins use a fixed ``compact_every`` cadence;
    this is the measured alternative for batch writers: call it after
    every commit, pay an OPTIMIZE only when the debt is real."""
    snap = load_snapshot(path)
    debt = len(snap.dv_files or [])
    for f in data_files(path, snap.version):
        try:
            if os.stat(f).st_size < small_bytes:
                debt += 1
        except OSError:
            pass
    if debt <= max_small_files:
        return None
    return compact(spark, path, **compact_kwargs)


def restore(
    path: str,
    version: int | None = None,
    timestamp=None,
) -> int:
    """Delta RESTORE: publish an old version's exact file references as
    the new head — zero data movement, pure manifest write. History is
    preserved (the bad versions stay time-travelable until vacuum).
    Target by ``version`` (``RESTORE ... VERSION AS OF``) or
    ``timestamp`` (``TIMESTAMP AS OF``, resolved by
    ``version_at_timestamp``) — exactly one of the two. The references
    include tombstones, sidecar names, sketches and column mapping."""
    if (version is None) == (timestamp is None):
        raise ValueError("pass exactly one of version / timestamp")
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp)
    snap = load_snapshot(path, version)
    refs = _references(_raw_manifest(path, snap.version))
    if snap.part_entries is not None:
        # a restore changes nothing physically; entries carry over but
        # must rebase-conflict with any concurrent merge, so mark every
        # partition changed
        refs["part_entries"] = [
            {**e, "changed": True} for e in snap.part_entries
        ]
    return _publish(
        path,
        "RESTORE",
        lambda head, head_m: _Change(
            {"restored_version": version}, refs=refs
        ),
    )


def clone(src: str, dst: str, version: int | None = None) -> int:
    """Shallow clone (Delta CLONE): a new table whose v0 manifest
    references the source snapshot's data dirs — zero copy. The clone
    evolves independently (its own commits write its own dirs); vacuum
    on the clone never deletes source-owned dirs (they live outside its
    data root), and vacuuming the SOURCE can orphan a shallow clone —
    the same caveat real Delta documents."""
    snap = load_snapshot(src, version)
    if _versions(dst):
        raise ValueError(f"clone target {dst} already exists")
    refs = _references(_raw_manifest(src, snap.version))
    # sidecar names are table-relative, so the clone MATERIALIZES the
    # source's merged stats/blooms/dead counts into its own sidecars —
    # the clone's metadata is then self-contained and a source-side
    # vacuum can't strip it (data dirs keep the documented
    # shallow-clone caveat)
    for k in (*_SC_REFS.values(), *_SC_INLINE.values()):
        refs.pop(k, None)
    for kind, merged in (
        ("stats", snap.file_stats),
        ("bloom", snap.file_blooms),
        ("dv", snap.dv_dead if snap.dv_files else None),
    ):
        if merged is not None:
            refs[_SC_REFS[kind]] = [_write_sidecar(dst, dict(merged))]
    return _publish(
        dst,
        "CLONE",
        lambda head, head_m: _Change(
            {"source_version": snap.version}, refs=refs
        ),
        base=-1,
        create=True,
    )


def deep_clone(
    spark: SparkSession, src: str, dst: str, version: int | None = None
) -> int:
    """Deep CLONE (Delta's ``CLONE`` without ``SHALLOW``): a fully
    SELF-CONTAINED copy of a source snapshot that survives vacuuming —
    or deleting — the source. Composed from the verified primitives:
    a shallow clone publishes the manifest, ``compact`` rewrites every
    referenced row into dst-owned dirs (preserving partition layout,
    applying deletion vectors, materializing column mapping — its
    normal contract), and a ``keep_last=1`` vacuum retires the one
    transient version that still referenced source dirs. Cost = one
    read+write of the cloned snapshot's live rows, the same bytes real
    deep clone copies."""
    clone(src, dst, version)
    v = compact(spark, dst)
    vacuum(dst, keep_last=1)
    return v


def data_files(path: str, version: int | None = None) -> list[str]:
    """All parquet data files a snapshot references (maintenance/tests)."""
    snap = load_snapshot(path, version)
    dirs = (
        [e["dir"] for e in snap.part_entries]
        if snap.part_entries
        else snap.dirs
    )
    return [f for d in dirs for f in _parquet_files(d)]


def history(path: str) -> list[Snapshot]:
    return [load_snapshot(path, v) for v in _versions(path)]


def describe_history(path: str) -> list[dict]:
    """Delta's DESCRIBE HISTORY: one dict per version, newest first —
    {"version", "op", "committed_at", "metrics"} with ``op`` in WRITE /
    APPEND / MERGE / REPLACEWHERE / DELETE / UPDATE / OPTIMIZE /
    RESTORE / CLONE (None for manifests written before operations were
    recorded). ``metrics`` is the operation's commit-time counters
    (Delta's operationMetrics analog — rows/files added, rows deleted
    or updated, partitions changed; None pre-upgrade). Pure manifest
    reads — no data I/O."""
    return [
        {
            "version": s.version,
            "op": s.op,
            "committed_at": s.committed_at,
            "metrics": s.metrics,
        }
        for s in reversed(history(path))
    ]


def describe_detail(path: str, version: int | None = None) -> dict:
    """Delta's DESCRIBE DETAIL: one dict summarizing the table's head
    (or a time-traveled) snapshot — format/location/version, live file
    count and byte size (after deletion-vector accounting the ROW count
    is ``table_stats``'s job; here files are physical), partition and
    clustering metadata, which columns carry stats/blooms, and the
    table properties (constraints, generated columns, hidden-partition
    transforms). Manifest + ``os.stat`` only — no data-file reads."""
    snap = load_snapshot(path, version)
    files = data_files(path, snap.version)
    size = 0
    for f in files:
        try:
            size += os.stat(f).st_size
        except OSError:
            pass
    meta = _load_table_meta(path)
    return {
        "format": "parquet+manifest",
        "location": path,
        "version": snap.version,
        "committed_at": snap.committed_at,
        "last_op": snap.op,
        "num_files": len(files),
        "size_bytes": size,
        "num_dv_files": len(snap.dv_files or []),
        "num_deleted_rows": sum((snap.dv_dead or {}).values()),
        "partition_columns": list(snap.partition_by or []),
        "stats_columns": list(snap.stats_cols or []),
        "bloom_columns": list(snap.bloom_cols or []),
        "column_mapping": dict(snap.column_mapping or {}),
        "retired_physical": list(snap.retired_physical or []),
        # sketches are stored under PHYSICAL keys; report LOGICAL names
        # so this surface agrees with table_ndv and the logical schema
        # on column-mapped tables
        "ndv_columns": sorted(
            {p: l for l, p in (snap.column_mapping or {}).items()}.get(
                c, c
            )
            for c in _raw_manifest(path, snap.version).get("ndv_sketches")
            or []
        ),
        "properties": {
            "constraints": dict(meta.get("constraints", {})),
            "generated": dict(meta.get("generated", {})),
            "identity": meta.get("identity"),
            "transforms": list(meta.get("transforms", [])),
        },
    }


def vacuum(
    path: str,
    keep_last: int = 1,
    retention_hours: float | None = None,
) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and delete
    data dirs no surviving manifest references (including orphans from
    crashed writers). Returns the deleted data dirs.

    ``retention_hours`` ADDS an age-based keep window (Delta's
    ``VACUUM ... RETAIN N HOURS``): every version committed within the
    window also survives, so time travel stays available for the whole
    retention period regardless of commit frequency. The head version
    is always kept."""
    vs = _versions(path)
    keep_vs = vs[-keep_last:] if vs else []
    if retention_hours is not None and vs:
        cutoff = time.time() - retention_hours * 3600
        keep_vs = sorted(
            set(keep_vs)
            | {
                v
                for v in vs
                if load_snapshot(path, v).committed_at >= cutoff
            }
        )
    live: set[str] = set()
    live_sc: set[str] = set()
    for v in keep_vs:
        m = _raw_manifest(path, v)
        live.update(m["dirs"])
        live.update(m.get("dv_files") or [])
        # merge-committed manifests reference partition subdirs of older
        # commit dirs; a base with ANY surviving reference stays whole
        # (conservative — subdir-granular deletion is a later refinement)
        live.update(e["base"] for e in m.get("part_entries") or [])
        # sidecar GC: a stats/bloom/dv sidecar survives iff some
        # surviving manifest names it (same liveness rule as data dirs)
        for k in _SC_REFS.values():
            live_sc.update(m.get(k) or [])
    for v in vs:
        if v not in keep_vs:
            os.remove(_manifest_path(path, v))
    mdir = os.path.join(path, _MANIFESTS)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.startswith("sc-") and name not in live_sc:
                try:
                    os.remove(os.path.join(mdir, name))
                except OSError:
                    pass
    deleted = []
    data_root = os.path.join(path, _DATA)
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if full not in live:
                shutil.rmtree(full)
                deleted.append(full)
    return deleted
