"""Minimal ACID table format: a versioned-manifest parquet table with
copy-on-write MERGE, merge-on-read DELETE/UPDATE (position-delete
vectors), snapshot isolation, time travel (Python + SQL), file-level
statistics + data skipping, OPTIMIZE compaction with 1-D range / 2-D
Z-order clustering, a partition spec, CHECK constraints, a change data
feed (batch + streaming source), and vacuum.

The reference's upsert is a row-level ``INSERT ... ON CONFLICT DO
UPDATE`` against a mutable heap table (ETL.sql:304-315), and its whole
Iteration 3 theme is index/partition pruning (`Iteration 3/Group
No.6_Indexing_Partitioning.sql:35-119`). On an immutable-file lake both
need a TABLE FORMAT: data lives in parquet files that are never
mutated, and a commit log of manifests says which files are active at
each version — plus per-file metadata (partition values, column
min/max) so reads can SKIP files instead of probing indexes. This
module is the smallest honest implementation of that idea (the
Delta/Iceberg core, hand-rolled from public first principles):

``<root>/_commits/<n>.json``  one manifest per commit. ``adds`` is a
    list of file records ``{"path", "rows", "partition": {col: val},
    "stats": {col: {"min", "max", "nulls"}}}`` (stats read from the
    parquet FOOTERS at commit time — no extra data scan); ``removes``
    is a list of paths. The ACTIVE file set at version ``v`` is
    fold(adds) - fold(removes) over commits 0..v. Commit 0 also records
    the table's ``partition_by`` spec; every data-writing commit
    records the writer's ``schema`` so an empty snapshot still has one.
``<root>/data/v=<n>-<uid>/...part-*.parquet``  immutable data files.
    The directory is unique PER COMMIT ATTEMPT (``uid``), so two racing
    writers can never clobber each other's data files before the
    manifest race is decided — the loser's files become unreferenced
    orphans that ``vacuum`` reclaims after a grace window (the
    Delta/Iceberg approach). With a partition spec, files land in
    hive-style ``_p_<col>=<val>`` subdirectories (the partition column
    itself also stays INSIDE the file, so footer stats cover it and
    snapshots read explicit file lists, never directory inference).

Commit atomicity + optimistic concurrency: the manifest is written to a
temp name and published with ``os.link`` to its final ``<n>.json`` —
link fails with EEXIST if a concurrent writer already claimed version
``n``, so exactly one of two racing writers wins and the loser sees a
clean ``CommitConflict`` to retry on (putIfAbsent semantics; on a real
object store this maps to conditional PUT). Readers never block: a
snapshot resolves the commit list ONCE and reads only files those
manifests name, so an in-flight writer (data files present, manifest
not yet linked) is invisible — snapshot isolation by construction.

One fold answers "what is live at version v": :func:`snapshot` walks
the log prefix once (``_Fold``) into a frozen :class:`Snapshot` — the
active data files and delete vectors, CHECK constraints, column
mapping, latest writer schema, partition spec, each epoch's first
version and the retention floor. ``active_adds``, ``column_mapping``,
``active_constraints`` and the rest are views of it; every writer folds
once and takes its next version, spec, mapping and constraints from the
record, and ``change_feed`` / ``vacuum`` walk the same fold alongside
the log. Published manifests are immutable and versions append-only,
so each process keeps ONE memo of parsed manifests per root
(``_LOGS``): an operation globs the commit directory once and parses
only manifests it has not seen. The memo resets when the log got
shorter or manifest 0's mtime changed — the table was deleted and
recreated (or rewritten in place) at the same root. ``_RETENTION.json``
is mutable (vacuum rewrites it), so the floor is read fresh on every
fold, never memoized.

MERGE is COPY-ON-WRITE at file granularity, the property that makes it
viable at 100 TB: the feed's distinct keys are joined (broadcast —
change batches are small vs the table) against a (key, file) projection
of the current snapshot to find TOUCHED files; only those are rewritten
(their rows + the feed run through operators/cdc.py apply_change_feed —
the same latest-wins merge the streaming path uses), every untouched
file is carried forward by reference in the manifest. Merge cost is
proportional to touched files, never table size. Time travel
(``read_version``) is a fold over the same manifests; data skipping
(``where=``) drops active files whose recorded stats are provably
disjoint from a range predicate BEFORE the scan — at 100 TB this is
what turns a key-range query over a partitioned table into a handful of
file reads. ``vacuum`` deletes files unreferenced by any retained
version (committed files immediately, never-committed orphans only
after a grace window so in-flight writers keep their files) and records
the earliest still-readable version so expired time travel fails fast.

DELETE and UPDATE are MERGE-ON-READ (``delete_where`` /
``update_where``), the other half of the
COW-vs-MOR trade every real format exposes: instead of rewriting every
file that contains a matched row (copy-on-write — what ``merge`` does,
right for large change batches), the commit writes POSITION-DELETE
files — ``(_tf_dfile, _tf_dpos)`` pairs naming physical row positions
in immutable data files (the Iceberg v2 position-delete / Delta
deletion-vector idea) — and removes a data file outright only when
EVERY row matched. Snapshot reads subtract the live delete set with a
broadcast anti-join on (file, position): ``_metadata.row_index`` is
stable because data files are never mutated. At 100 TB a selective
DELETE therefore writes KB of delete vectors instead of rewriting TB
of parquet; ``compact`` applies and retires the vectors (read-amp is
bounded by compaction cadence), and a later ``merge``'s rewrite of a
touched file cannot resurrect deleted rows because rewritten files get
fresh attempt-unique paths — stale vector entries reference only
removed paths and never match. ``update_where`` composes both halves
in one commit: vector-delete the matched rows' old positions + append
their updated images, so UPDATE cost follows matched rows, not
matched FILES.

Single-table, single-cluster scope. ADDITIVE schema evolution is
supported via ``append`` (new files may carry new columns; a
merge_schema snapshot reads old files' values as NULL — the
tf_append_schema_evolution entry); ``merge`` validates that its
key+payload covers every live column (rejecting a rewrite that would
silently drop an evolved column) and ``compact`` rewrites under the
merged schema, so neither can lose evolved data; type changes still
require a rewrite and are out of scope.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import itertools
import json
import os
import re
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Mapping, Sequence

#: monotonically-unique suffix for commit temp files (per-attempt)
_ATTEMPT = itertools.count()

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .cdc import apply_change_feed

#: string min/max longer than this are not recorded (truncation would be
#: unsound for pruning; real formats truncate-with-pad, we simply skip)
_MAX_STAT_STR = 64


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic loser)."""


class ConstraintViolation(ValueError):
    """A write contained rows failing an active CHECK constraint."""


class VersionExpired(RuntimeError):
    """The requested version is older than vacuum's retention floor."""


def _commit_dir(root: str) -> str:
    return os.path.join(root, "_commits")


def _commit_path(root: str, version: int) -> str:
    return os.path.join(_commit_dir(root), f"{version:08d}.json")


def _retention_path(root: str) -> str:
    return os.path.join(_commit_dir(root), "_RETENTION.json")


def list_versions(root: str) -> list[int]:
    """Committed versions, ascending (only published manifests count)."""
    out = []
    for p in glob.glob(os.path.join(_commit_dir(root), "*.json")):
        stem = os.path.splitext(os.path.basename(p))[0]
        if stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def read_manifest(root: str, version: int) -> dict:
    with open(_commit_path(root, version)) as fh:
        return json.load(fh)


def earliest_readable(root: str) -> int:
    """Retention floor recorded by the last vacuum (0 if never vacuumed):
    versions below it may reference reclaimed files and fail fast."""
    p = _retention_path(root)
    if not os.path.exists(p):
        return 0
    with open(p) as fh:
        return int(json.load(fh)["earliest_readable"])


def _publish(root: str, version: int, manifest: dict) -> None:
    """Atomically publish a manifest as version ``version``.

    Write-to-temp + hard-link-to-final: the link is the commit point and
    fails (EEXIST) if the version was already claimed — exactly one of
    N racing writers wins.
    """
    os.makedirs(_commit_dir(root), exist_ok=True)
    manifest.setdefault("committed_at", time.time())
    final = _commit_path(root, version)
    # temp name must be unique per ATTEMPT, not per process — two
    # threads of one writer (or a retry) sharing a pid-only name would
    # clobber each other's temp mid-link (caught by the race test)
    tmp = final + f".tmp.{os.getpid()}.{threading.get_ident()}.{next(_ATTEMPT)}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise CommitConflict(
            f"version {version} already committed at {root}"
        ) from e
    finally:
        os.unlink(tmp)


#: per-process memo of the parsed commit log:
#: root -> (manifest 0's mtime, {version: parsed manifest}); the reset
#: rule and why one memo suffices are in the module docstring
_LOGS: dict[str, tuple[float | None, dict[int, dict]]] = {}


def _log(root: str) -> tuple[tuple[int, dict], ...]:
    """Every published ``(version, manifest)``, ascending: one glob,
    and a parse only for manifests this process has not seen yet."""
    versions = list_versions(root)
    stamp = (
        os.path.getmtime(_commit_path(root, versions[0])) if versions else None
    )
    memo = _LOGS.get(root)
    if (
        memo is None or memo[0] != stamp
        or max(memo[1], default=-1) > (versions[-1] if versions else -1)
    ):
        memo = _LOGS[root] = (stamp, {})
    parsed = memo[1]
    for v in versions:
        if v not in parsed:
            parsed[v] = read_manifest(root, v)
    return tuple((v, parsed[v]) for v in versions)


def _norm_add(a) -> dict:
    """Manifest add records are dicts; bare-string paths (hand-written
    manifests in tests / older logs) normalize to a stats-free record."""
    return {"path": a} if isinstance(a, str) else a


def _by_path(records: Mapping[str, dict]) -> tuple[dict, ...]:
    return tuple(records[p] for p in sorted(records))


class _Fold:
    """The one left fold over the commit log, applied one manifest at a
    time: data files (``adds`` - ``removes``), position-delete files
    (``delete_adds`` - ``delete_removes``), CHECK constraints
    (``constraints_add`` / ``constraints_drop``), the last recorded
    column mapping and writer schema, and each epoch's FIRST version."""

    def __init__(self) -> None:
        self.adds: dict[str, dict] = {}
        self.dels: dict[str, dict] = {}
        self.constraints: dict[str, str] = {}
        self.epochs: dict = {}
        self.mapping: dict | None = None
        self.schema: str | None = None

    def apply(self, version: int, m: dict) -> None:
        for p in m["removes"]:
            self.adds.pop(p, None)
        for a in m["adds"]:
            rec = _norm_add(a)
            self.adds[rec["path"]] = rec
        for p in m.get("delete_removes", []):
            self.dels.pop(p, None)
        for a in m.get("delete_adds", []):
            rec = _norm_add(a)
            self.dels[rec["path"]] = rec
        for name in m.get("constraints_drop", []):
            self.constraints.pop(name, None)
        self.constraints.update(m.get("constraints_add", {}))
        self.mapping = m.get("column_mapping", self.mapping)
        self.schema = m.get("schema") or self.schema
        if m.get("epoch") is not None:
            self.epochs.setdefault(m["epoch"], version)


@dataclass(frozen=True, eq=False)
class Snapshot:
    """What is live at ``version`` (-1: no commits yet), from one fold
    of the log prefix. ``log`` holds every published (version,
    manifest) the fold saw, so a caller that needs other versions walks
    it without globbing again. Manifests and records are shared with
    the process memo: read them, never mutate them."""

    root: str
    version: int
    log: tuple[tuple[int, dict], ...]
    adds: tuple[dict, ...]          # active data-file records, by path
    delete_adds: tuple[dict, ...]   # live position-delete records, by path
    constraints: dict[str, str]
    mapping: dict | None            # None = unmapped table
    schema_json: str | None         # latest writer schema
    spec: list[str] | None          # partition spec (manifest 0)
    epochs: dict                    # epoch -> first version recording it
    floor: int                      # vacuum retention floor, read fresh

    @property
    def versions(self) -> list[int]:
        return [v for v, _ in self.log]

    @property
    def schema(self) -> StructType | None:
        if not self.schema_json:
            return None
        return StructType.fromJson(json.loads(self.schema_json))

    def readable(self, version: int | None = None) -> "Snapshot":
        """This snapshot, if the data files of ``version`` (default:
        its own) may be read: the version exists and is not below
        vacuum's retention floor."""
        version = self.version if version is None else version
        versions = self.versions
        if not versions:
            raise FileNotFoundError(f"no commits at {self.root}")
        if version not in versions:
            raise FileNotFoundError(f"version {version} not in {versions}")
        if version < self.floor:
            raise VersionExpired(
                f"version {version} predates vacuum retention "
                f"(earliest readable: {self.floor}) at {self.root}"
            )
        return self


def snapshot(root: str, version: int | None = None) -> Snapshot:
    """Fold the commit log at ``root`` up to ``version`` (default:
    latest) into one :class:`Snapshot`. Never raises for a missing or
    expired version; readers call :meth:`Snapshot.readable`."""
    log = _log(root)
    if version is None:
        version = log[-1][0] if log else -1
    fold = _Fold()
    for v, m in log:
        if v > version:
            break
        fold.apply(v, m)
    return Snapshot(
        root=root, version=version, log=log,
        adds=_by_path(fold.adds), delete_adds=_by_path(fold.dels),
        constraints=fold.constraints, mapping=fold.mapping,
        schema_json=fold.schema,
        spec=log[0][1].get("partition_by") if log else None,
        epochs=fold.epochs, floor=earliest_readable(root),
    )


def active_adds(root: str, version: int | None = None) -> list[dict]:
    """Active file RECORDS (path + partition + stats) at ``version``
    (default: latest). Fails fast (VersionExpired) past vacuum's
    retention floor."""
    return list(snapshot(root, version).readable().adds)


def active_files(root: str, version: int | None = None) -> list[str]:
    """Active data files (relative paths) at ``version`` (default latest)."""
    return [a["path"] for a in active_adds(root, version)]


def active_delete_adds(root: str, version: int | None = None) -> list[dict]:
    """Live POSITION-DELETE file records at ``version`` (default latest):
    the vector files a merge-on-read ``delete_where`` wrote and
    ``compact`` has not yet retired."""
    snap = snapshot(root, version)
    if not snap.log:
        raise FileNotFoundError(f"no commits at {root}")
    return list(snap.delete_adds)


def _overlaps(add: dict, col: str, lo, hi) -> bool:
    """Can ``add``'s file contain a row with ``lo <= col <= hi``?
    Conservative: missing/uncomparable stats keep the file. Sound only
    for null-rejecting range predicates (NULL never satisfies BETWEEN,
    and all-null files carry no min/max so they are kept anyway)."""
    st = (add.get("stats") or {}).get(col)
    if not st:
        return True
    mn, mx = st.get("min"), st.get("max")
    if mn is None or mx is None:
        return True
    try:
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:  # caller's bound not comparable to stored stat
        return True
    return True


def snapshot_files(
    root: str,
    version: int | None = None,
    where: Mapping[str, tuple] | None = None,
) -> tuple[list[str], int]:
    """(selected active paths, total active count) at ``version`` after
    stats-based data skipping. ``where`` maps column -> (lo, hi)
    inclusive bounds (None = unbounded; equality is ``(v, v)``); a file
    survives only if EVERY bound overlaps its recorded min/max — the
    manifest-side pruning real formats do before the scan ever starts.
    The caller must still apply the row-level filter: skipping is a
    superset guarantee, never exact."""
    adds = snapshot(root, version).readable().adds
    return _skip(adds, where), len(adds)


def _skip(adds: Sequence[dict], where: Mapping[str, tuple] | None) -> list[str]:
    """Paths of ``adds`` whose stats overlap every ``where`` bound."""
    return [
        a["path"] for a in adds
        if not where
        or all(_overlaps(a, c, b[0], b[1]) for c, b in where.items())
    ]


def _with_positions(df: DataFrame, root: str) -> DataFrame:
    """Attach ``_tf_file`` (root-relative path) + ``_tf_pos`` (physical
    row index) provenance from ``_metadata``, resolved AT SCAN time so
    the columns stay correct under any later join (input_file_name is
    not reliable there). The scan's reported file_path may carry either
    the literal root the caller passed or its symlink-resolved form
    (e.g. /tmp vs /private/tmp), so both spellings are matched; a path
    matching NEITHER fails loudly — a silently-empty ``_tf_file`` would
    stop the (file, pos) anti-join from matching and RESURRECT
    vector-deleted rows with no error."""
    roots = sorted(
        {os.path.abspath(root), os.path.realpath(root)},
        key=len, reverse=True,
    )
    rel = F.regexp_extract(
        F.col("_metadata.file_path"),
        "(?:" + "|".join(re.escape(r) for r in roots) + ")/(.*)$", 1,
    )
    rel = F.when(rel != "", rel).otherwise(
        F.raise_error(F.concat(
            F.lit(
                f"table-format scan path does not contain root "
                f"{roots} — position provenance would be wrong: "
            ),
            F.col("_metadata.file_path"),
        ))
    )
    return df.select(
        "*", rel.alias("_tf_file"),
        F.col("_metadata.row_index").alias("_tf_pos"),
    )


def _anti_vectors(
    spark: SparkSession, root: str, df: DataFrame, dels: list[dict]
) -> DataFrame:
    """Subtract the delete-vector file records ``dels`` (an
    active_delete_adds result the CALLER already folded — avoids
    re-reading every manifest) from a positioned frame (broadcast
    anti-join — vectors are change-batch-sized)."""
    if not dels:
        return df
    dv = spark.read.parquet(*[os.path.join(root, d["path"]) for d in dels])
    return df.join(
        F.broadcast(dv),
        (F.col("_tf_file") == F.col("_tf_dfile"))
        & (F.col("_tf_pos") == F.col("_tf_dpos")),
        "left_anti",
    )


def _file_stats(abs_path: str) -> dict:
    """Per-file row count + column min/max/null-count from the parquet
    FOOTER (pyarrow metadata — a KB-sized read, never a data scan).
    Columns whose statistics this arrow build cannot extract (e.g.
    fixed-len decimals) or whose string bounds exceed _MAX_STAT_STR are
    simply omitted — pruning treats missing stats as must-keep."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    stats: dict[str, dict] = {}
    bad: set[str] = set()
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            c = rg.column(j)
            name = c.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaves / known-unextractable
            try:
                st = c.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no min/max")
                mn, mx = _stat_value(st.min), _stat_value(st.max)
                nulls = int(st.null_count) if st.has_null_count else None
            except Exception:
                bad.add(name)
                stats.pop(name, None)
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": mn, "max": mx, "nulls": nulls}
            else:  # aggregate across row groups
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
                if cur["nulls"] is not None and nulls is not None:
                    cur["nulls"] += nulls
                else:
                    cur["nulls"] = None
    return {"rows": int(md.num_rows), "stats": stats}


def _stat_value(v):
    """Footer stat -> JSON-storable, order-preserving value (or raise)."""
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        if len(v) > _MAX_STAT_STR:
            raise ValueError("string stat too long to store soundly")
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()  # ISO strings compare like the values
    raise ValueError(f"unsupported stat type {type(v).__name__}")


def _partition_values(rel: str) -> dict[str, str]:
    """Partition values parsed from ``_p_<col>=<val>`` path components
    (the hive dirs _write_data lays down for the partition spec)."""
    out: dict[str, str] = {}
    for comp in rel.split(os.sep):
        if comp.startswith("_p_") and "=" in comp:
            k, v = comp[3:].split("=", 1)
            out[k] = v
    return out


# ---------------------------------------------------------------------------
# Column mapping (r11 — verdict #5): NON-ADDITIVE schema evolution
# without rewrites, the Delta name-mode idea. An opt-in mapped table
# stores every column under an IMMUTABLE synthetic physical name
# (``col-<field id>``); the manifest records the logical->physical
# mapping, and each metadata commit may RENAME a logical name (same id,
# same physical — zero data movement), DROP a field (physical bytes
# stay in old files, unselected on read), ADD a field (fresh id, fresh
# physical name — a re-added logical name can never resurrect dropped
# data because the dead id's physical column is simply never selected
# again), or WIDEN a type (int->bigint, float->double, decimal
# precision growth: reads upcast old narrow files schema-on-read, new
# files land wide — no rewrite either way). Reads resolve files with
# the EXPLICIT physical schema (missing physical columns surface as
# NULL), then project physical->logical for the mapping AT THE READ
# VERSION — time travel sees each version's own names.
# ---------------------------------------------------------------------------

#: widenings that are value-preserving under parquet schema-on-read
#: (verified: Spark's vectorized reader upcasts these in place)
_WIDENINGS = {
    ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
    ("float", "double"),
}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widening_ok(old: str, new: str) -> bool:
    old = old.strip().lower().replace(" ", "")
    new = new.strip().lower().replace(" ", "")
    if (old, new) in _WIDENINGS:
        return True
    mo, mn = _DECIMAL_RE.match(old), _DECIMAL_RE.match(new)
    if mo and mn:
        po, so = int(mo.group(1)), int(mo.group(2))
        pn, sn = int(mn.group(1)), int(mn.group(2))
        return sn == so and pn >= po
    return False


def column_mapping(root: str, version: int | None = None) -> dict | None:
    """The table's column mapping as of ``version`` (default latest):
    the LAST ``column_mapping`` recorded at or before it (each mapping
    commit stores the full updated mapping). None = unmapped table."""
    return snapshot(root, version).mapping


def _new_mapping(schema: StructType) -> dict:
    return {
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "physical": f"col-{i + 1}",
                "type": f.dataType.simpleString(),
            }
            for i, f in enumerate(schema.fields)
        ],
        "max_id": len(schema.fields),
    }


def _phys_ddl(mapping: dict) -> str:
    """Read-schema DDL over physical names with the CURRENT logical
    types — old narrow/missing physical columns upcast/null-fill
    schema-on-read."""
    return ", ".join(
        f"`{f['physical']}` {f['type']}" for f in mapping["fields"]
    )


def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
    """Logical frame -> physical column names (cast to the recorded
    logical type so every file conforms to the mapping)."""
    return df.select(*[
        F.col(f["name"]).cast(f["type"]).alias(f["physical"])
        for f in mapping["fields"]
    ])


def _to_logical(df: DataFrame, mapping: dict, extra: Sequence[str] = ()) -> DataFrame:
    """Physical frame -> logical names (keeps ``extra`` columns, e.g.
    the _tf_* provenance pair, unrenamed)."""
    return df.select(
        *[
            F.col(f"`{f['physical']}`").cast(f["type"]).alias(f["name"])
            for f in mapping["fields"]
        ],
        *[F.col(c) for c in extra],
    )


def _publish_mapping(snap: Snapshot, mapping: dict, detail: dict) -> int:
    new_v = snap.version + 1
    _publish(snap.root, new_v, {
        "version": new_v, "op": "alter_mapping", "adds": [], "removes": [],
        "n_changes": 0, "column_mapping": mapping, **detail,
    })
    return new_v


def _require_mapping(root: str) -> tuple[Snapshot, dict]:
    """The latest snapshot and an editable copy of its mapping."""
    snap = snapshot(root)
    mp = snap.mapping
    if mp is None:
        raise ValueError(
            f"table at {root} has no column mapping — create it with "
            f"column_mapping=True (rename/drop/widen need the physical "
            f"indirection; an unmapped table's names are its file names)"
        )
    return snap, {
        "fields": [dict(f) for f in mp["fields"]], "max_id": mp["max_id"],
    }


def rename_column(root: str, old: str, new: str) -> int:
    """Metadata-only RENAME: same field id, same physical column, zero
    data movement — every existing file stays valid."""
    snap, mp = _require_mapping(root)
    names = {f["name"] for f in mp["fields"]}
    if old not in names:
        raise ValueError(f"no column {old!r} to rename (have {sorted(names)})")
    if new in names:
        raise ValueError(f"rename target {new!r} already exists")
    for f in mp["fields"]:
        if f["name"] == old:
            f["name"] = new
    return _publish_mapping(snap, mp, {"rename": [old, new]})


def drop_column(root: str, name: str) -> int:
    """Metadata-only DROP: the field leaves the mapping; its physical
    bytes stay in existing files, never selected again. Time travel to
    pre-drop versions still reads them (mapping is per-version)."""
    snap, mp = _require_mapping(root)
    if name not in {f["name"] for f in mp["fields"]}:
        raise ValueError(f"no column {name!r} to drop")
    if len(mp["fields"]) == 1:
        raise ValueError("cannot drop the last column")
    mp["fields"] = [f for f in mp["fields"] if f["name"] != name]
    return _publish_mapping(snap, mp, {"drop": name})


def add_column(root: str, name: str, dtype: str) -> int:
    """Metadata-only ADD: a FRESH field id and physical name. Existing
    files lack the physical column and read NULL; re-adding a dropped
    logical name can never resurrect old data (the dead id's physical
    column is a different name)."""
    snap, mp = _require_mapping(root)
    if name in {f["name"] for f in mp["fields"]}:
        raise ValueError(f"column {name!r} already exists")
    dtype = dtype.strip().lower().replace(" ", "")
    # eager type validation: a typo here would otherwise surface as a
    # confusing DDL parse error on the NEXT read. fromDDL needs a live
    # session (this API is path-only) — without one, fall back to a
    # local grammar for the simple types and publish complex ones
    # unvalidated rather than raising a confusing internal error
    # (ADVICE r11 #4).
    from pyspark.sql import SparkSession as _SS

    if _SS.getActiveSession() is not None:
        try:
            StructType.fromDDL(f"x {dtype}")
        except Exception as e:
            raise ValueError(f"invalid column type {dtype!r}: {e}") from e
    elif not re.match(
        r"^(boolean|tinyint|byte|smallint|short|int|integer|bigint|long"
        r"|float|real|double|date|timestamp(_ntz)?|string|binary"
        r"|decimal(\(\d+,\d+\))?|(array|map|struct)<.+>)$",
        dtype,
    ):
        raise ValueError(f"invalid column type {dtype!r} (no active session)")
    fid = mp["max_id"] + 1
    mp["fields"].append(
        {"id": fid, "name": name, "physical": f"col-{fid}", "type": dtype}
    )
    mp["max_id"] = fid
    return _publish_mapping(snap, mp, {"add": [name, dtype]})


def widen_column(root: str, name: str, new_type: str) -> int:
    """Metadata-only type WIDENING (int->bigint, float->double, decimal
    precision growth at equal scale): reads upcast old narrow files
    schema-on-read; subsequent writes land the wide type. Anything
    outside the allowlist would be lossy or change semantics — raises."""
    snap, mp = _require_mapping(root)
    new_type = new_type.strip().lower().replace(" ", "")
    for f in mp["fields"]:
        if f["name"] == name:
            if not _widening_ok(f["type"], new_type):
                raise ValueError(
                    f"cannot widen {name!r}: {f['type']} -> {new_type} is "
                    f"not a value-preserving widening"
                )
            old = f["type"]
            f["type"] = new_type
            return _publish_mapping(snap, mp, {"widen": [name, old, new_type]})
    raise ValueError(f"no column {name!r} to widen")


def _normalize_spec(partition_by) -> list[str] | None:
    if partition_by is None:
        return None
    if isinstance(partition_by, str):
        return [partition_by]
    return list(partition_by)


def active_constraints(root: str, version: int | None = None) -> dict[str, str]:
    """Live CHECK constraints (name -> SQL boolean expr) at ``version``
    (default latest)."""
    return dict(snapshot(root, version).constraints)


def _check_constraints(df: DataFrame, constraints: Mapping[str, str]) -> None:
    """Reject ``df`` if any row FAILS a constraint (SQL CHECK semantics:
    NULL passes, only FALSE violates). One conditional-aggregate pass
    over the rows being written — never the whole table; the inductive
    argument real formats use: every active file was validated by the
    write (or by add_constraint's one-time snapshot scan) that
    introduced it."""
    if not constraints:
        return
    names = list(constraints)
    counts = df.agg(*[
        F.sum(
            F.when(~F.coalesce(F.expr(constraints[n]), F.lit(True)), 1)
            .otherwise(0)
        ).alias(n)
        for n in names
    ]).first()
    bad = {n: int(counts[n] or 0) for n in names if counts[n]}
    if bad:
        raise ConstraintViolation(
            f"write violates CHECK constraint(s) {bad} "
            f"(violating-row counts; nothing was committed)"
        )


@contextlib.contextmanager
def _validated(df: DataFrame, constraints: Mapping[str, str]):
    """Validate CHECK constraints against ``df`` and yield the frame
    the caller should WRITE. When constraints are active the frame is
    persisted across the validate+write pair — the validation is a full
    extra computation of the written frame (an agg pass), so without
    the cache every constrained append/merge/update computes its input
    twice (worst for merge()'s join). Unpersisted on exit either way;
    with no constraints this is a zero-cost pass-through."""
    if not constraints:
        yield df
        return
    df = df.persist()
    try:
        _check_constraints(df, constraints)
        yield df
    finally:
        df.unpersist()


def add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
    CURRENT snapshot once (the one-time scan Delta documents), then
    records the constraint in an alter commit; every subsequent write
    validates its own rows before publishing."""
    snap = snapshot(root)
    new_v = snap.version + 1
    _check_constraints(_read(spark, snap, merge_schema=True), {name: expr})
    _publish(root, new_v, {
        "version": new_v, "op": "alter", "adds": [], "removes": [],
        "n_changes": 0, "constraints_add": {name: expr},
    })
    return new_v


def drop_constraint(spark: SparkSession, root: str, name: str) -> int:
    new_v = snapshot(root).version + 1
    _publish(root, new_v, {
        "version": new_v, "op": "alter", "adds": [], "removes": [],
        "n_changes": 0, "constraints_drop": [name],
    })
    return new_v


def _write_data(
    df: DataFrame,
    root: str,
    version: int,
    files: int,
    partition_by: Sequence[str] | None,
    sort_by: str | None = None,
    zorder_by: Sequence[str] | None = None,
    mapping: dict | None = None,
) -> list[dict]:
    """Write ``df`` under an ATTEMPT-UNIQUE directory and return the add
    records (path + partition values + footer stats). Uniqueness is the
    concurrent-writer safety property: two writers racing for the same
    version can never touch each other's files — the manifest race
    decides the winner, the loser's directory is an orphan for vacuum.

    ``sort_by`` RANGE-CLUSTERS an unpartitioned write: rows are range-
    partitioned into ``files`` sorted files, so each file's footer
    min/max for that column is a DISJOINT interval and a range ``where``
    prunes to the few files that overlap — the data-layout half of data
    skipping (what OPTIMIZE ZORDER buys in real formats, in its 1-D
    form). Under a partition spec the sort applies within each
    partition's file (row-group locality only; the manifest tracks one
    stats interval per file).

    ``zorder_by`` (two or more int-valued columns, unpartitioned writes
    only) range-clusters on the MORTON interleave of the columns
    instead: each file's footer min/max per dimension becomes a bounded
    hyper-rectangle, so a range ``where`` on ANY of the columns prunes
    — the OPTIMIZE ZORDER of real formats (operators/zorder.py)."""
    if mapping is not None:
        # column-mapped table: files store the IMMUTABLE physical
        # names; the caller's frame is logical (mapping composes with
        # unpartitioned writes only — create_table enforces it). The
        # clustering knobs are logical names too — translate them.
        df = _to_physical(df, mapping)
        phys = {f["name"]: f["physical"] for f in mapping["fields"]}
        if sort_by:
            sort_by = f"`{phys.get(sort_by, sort_by)}`"
        if zorder_by:
            zorder_by = [f"`{phys.get(c, c)}`" for c in zorder_by]
    uid = uuid.uuid4().hex[:8]
    vdir = os.path.join(root, "data", f"v={version}-{uid}")
    if zorder_by:
        if partition_by:
            raise ValueError("zorder_by composes with unpartitioned writes only")
        from .zorder import zvalue_n

        # zvalue_n defaults bits to 63 // n (31 for two columns), so
        # key domains up to 2^31 interleave without the aliasing that
        # a fixed 16-bit budget hits at scale (custkey > 65535 would
        # silently destroy the per-file rectangles)
        zcols = list(zorder_by)
        zexpr = zvalue_n(zcols)
        (
            df.withColumn("_tf_z", zexpr)
            .repartitionByRange(files, F.col("_tf_z"))
            .sortWithinPartitions("_tf_z")
            .drop("_tf_z")
            .write.mode("error").parquet(vdir)
        )
    elif partition_by:
        # hive-partition on COPIES (``_p_<col>``) so the columns
        # themselves stay inside the data files — snapshots read
        # explicit file lists (never directory inference) and footer
        # stats cover the partition columns too. Deterministic
        # value->file placement is what lets MERGE prove which files a
        # change batch can possibly touch.
        out = df
        pcols = []
        for c in partition_by:
            pc = f"_p_{c}"
            out = out.withColumn(pc, F.col(c))
            pcols.append(pc)
        out = out.repartition(*[F.col(pc) for pc in pcols])
        if sort_by:
            out = out.sortWithinPartitions(*pcols, sort_by)
        out.write.mode("error").partitionBy(*pcols).parquet(vdir)
    elif sort_by:
        (
            df.repartitionByRange(files, F.col(sort_by))
            .sortWithinPartitions(sort_by)
            .write.mode("error").parquet(vdir)
        )
    else:
        df.coalesce(files).write.mode("error").parquet(vdir)
    adds = []
    for p in sorted(
        glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
    ):
        rel = os.path.relpath(p, root)
        rec: dict = {"path": rel}
        part = _partition_values(rel)
        if part:
            rec["partition"] = part
        rec.update(_file_stats(p))
        adds.append(rec)
    return adds


def create_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    files: int = 4,
    partition_by: str | Sequence[str] | None = None,
    sort_by: str | None = None,
    constraints: Mapping[str, str] | None = None,
    column_mapping: bool = False,
) -> int:
    """Commit 0: materialize ``df`` as the table's initial snapshot.
    ``partition_by`` (optional, str or list) records the table's
    PARTITION SPEC in the manifest and hive-partitions every data-
    writing commit on those columns, so key-localized MERGEs rewrite a
    bounded file subset and stats-pruned reads skip whole partitions.
    ``sort_by`` range-clusters the files on a column (disjoint per-file
    min/max intervals → range predicates prune; see _write_data).
    ``constraints`` (name -> SQL boolean expr) are CHECK constraints:
    recorded in the manifest, validated against this and every later
    write (ConstraintViolation aborts before anything publishes).
    ``column_mapping=True`` stores columns under immutable synthetic
    physical names so rename/drop/re-add/widen become METADATA commits
    (see the column-mapping section above); composes with flat layout
    only — a renamed partition column would orphan its hive paths."""
    spec = _normalize_spec(partition_by)
    mp = None
    if column_mapping:
        if spec:
            raise ValueError(
                "column_mapping composes with unpartitioned tables only"
            )
        mp = _new_mapping(df.schema)
    with _validated(df, constraints or {}) as vdf:
        adds = _write_data(vdf, root, 0, files, spec, sort_by, mapping=mp)
    manifest = {
        "version": 0, "op": "create", "adds": adds, "removes": [],
        "n_changes": sum(a["rows"] for a in adds),
        "partition_by": spec, "sort_by": sort_by,
        "constraints_add": dict(constraints) if constraints else {},
        "schema": df.schema.json(),
    }
    if mp is not None:
        manifest["column_mapping"] = mp
    _publish(root, 0, manifest)
    return 0


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    merge_schema: bool = False,
    where: Mapping[str, tuple] | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """Snapshot read: the table exactly as of ``version`` (default
    latest). Resolves the manifest fold once, then reads only the named
    files — concurrent in-flight writers are invisible.
    ``merge_schema`` unions file schemas across commits (needed after an
    evolved ``append``; costs a footer read per file, so off by
    default). ``where`` maps column -> (lo, hi) inclusive bounds for
    manifest-stats DATA SKIPPING: files provably disjoint from every
    bound are dropped before the scan (the caller still applies the
    row filter — skipping is a superset). Live merge-on-read DELETE
    vectors are subtracted with a broadcast anti-join on (file,
    position) — vectors are change-batch-sized, never table-sized, so
    the broadcast is safe by construction and the data side never
    shuffles. ``with_positions`` keeps the ``_tf_file`` (root-relative)
    and ``_tf_pos`` provenance columns, computed from ``_metadata`` AT
    SCAN time (stable under later joins, unlike input_file_name). A
    snapshot whose active set is empty (e.g. a merge deleted every row)
    returns an empty frame with the recorded table schema. On a
    column-mapped table the scan resolves files with the EXPLICIT
    physical schema of the mapping AT THIS VERSION (missing physical
    columns null-fill, narrow ones upcast) and projects to that
    version's logical names — ``where`` keys stay logical."""
    return _read(
        spark, snapshot(root, version), merge_schema, where, with_positions
    )


def _read(
    spark: SparkSession,
    snap: Snapshot,
    merge_schema: bool = False,
    where: Mapping[str, tuple] | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """:func:`read_version` of an already-folded snapshot (writers read
    the record they resolved instead of folding the log again)."""
    root, mapping = snap.root, snap.mapping
    if mapping and where:
        phys = {f["name"]: f["physical"] for f in mapping["fields"]}
        where = {phys.get(c, c): b for c, b in where.items()}
    files = _skip(snap.readable().adds, where)
    dels = snap.delete_adds
    if not files:
        if mapping:
            out = spark.createDataFrame([], ", ".join(
                f"`{f['name']}` {f['type']}" for f in mapping["fields"]
            ))
        else:
            schema = snap.schema
            if schema is None:
                raise FileNotFoundError(
                    f"no schema recorded at {root} v{snap.version}"
                )
            out = spark.createDataFrame([], schema)
        if with_positions:
            out = out.withColumn(
                "_tf_file", F.lit(None).cast("string")
            ).withColumn("_tf_pos", F.lit(None).cast("long"))
        return out
    if mapping:
        reader = spark.read.schema(_phys_ddl(mapping))
    else:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[os.path.join(root, f) for f in files])
    if not dels and not with_positions:
        return _to_logical(df, mapping) if mapping else df
    df = _with_positions(df, root)
    if dels:
        df = _anti_vectors(spark, root, df, dels)
    if mapping:
        df = _to_logical(df, mapping, extra=("_tf_file", "_tf_pos"))
    if not with_positions:
        df = df.drop("_tf_file", "_tf_pos")
    return df


def append(
    spark: SparkSession, root: str, df: DataFrame, files: int = 4
) -> int:
    """INSERT INTO as a commit: add new data files, remove nothing —
    the cheapest write a table format supports (no read, no rewrite).
    ``df`` may carry MORE columns than earlier commits (schema
    evolution by addition): old files simply lack the column and a
    ``merge_schema`` snapshot reads them as NULL — the additive half of
    evolution, without the rewrite a type change would force. Follows
    the table's partition spec when the columns are present. On a
    column-mapped table the frame must match the CURRENT logical
    schema exactly (evolve with add_column/widen_column first — the
    mapping, not the writer, owns the schema)."""
    snap = snapshot(root)
    new_v = snap.version + 1
    spec = snap.spec
    if spec and not all(c in df.columns for c in spec):
        spec = None
    mapping = snap.mapping
    if mapping:
        logical = {f["name"] for f in mapping["fields"]}
        if set(df.columns) != logical:
            raise ValueError(
                f"append to a column-mapped table must match its "
                f"current logical schema {sorted(logical)} exactly "
                f"(got {sorted(df.columns)}); evolve the mapping first"
            )
    with _validated(df, snap.constraints) as vdf:
        adds = _write_data(vdf, root, new_v, files, spec, mapping=mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "append", "adds": adds, "removes": [],
        "n_changes": sum(a["rows"] for a in adds),
        "schema": df.schema.json(),
    })
    return new_v


def _current_with_file(spark: SparkSession, snap: Snapshot) -> DataFrame:
    """``snap``'s rows + ``_tf_file`` root-relative provenance column
    (merged schema, so evolved columns are visible to validation).
    Delete vectors are already applied by the read, so a rewrite
    that consumes this frame can never resurrect a deleted row."""
    return _read(
        spark, snap, merge_schema=True, with_positions=True
    ).drop("_tf_pos")


def _touched(
    cur: DataFrame, feed: DataFrame, key_cols: list[str]
) -> tuple[list[str], DataFrame]:
    """Copy-on-write touched-file probe: the files of ``cur`` (a
    :func:`_current_with_file` frame) holding a key of ``feed`` — a
    semi-join against the broadcast key set, collected as a
    manifest-sized file list — and ``cur`` restricted to those files."""
    keys = feed.select(*key_cols).distinct()
    touched = [
        r[0]
        for r in cur.join(F.broadcast(keys), key_cols, "left_semi")
        .select("_tf_file").distinct().collect()
    ]
    return touched, cur.filter(
        F.col("_tf_file").isin(touched) if touched else F.lit(False)
    )


def _plan_vector_delete(
    matched: DataFrame, snap: Snapshot
) -> tuple[list[str], int, list[dict]]:
    """Shared MoR vector-write step for delete_where/update_where: from
    a positioned ``matched`` frame, split fully-matched data files
    (whole-file removes, no vector needed) from partially-matched ones
    (a sorted position-delete parquet under deletes/v=<n>-<uid>, n =
    ``snap``'s next version), and return (full_file_removes,
    n_matched_rows, delete_add_records)."""
    import pyarrow.parquet as pq

    root = snap.root
    per_file = {
        r["_tf_file"]: r["n"]
        for r in matched.groupBy("_tf_file").agg(F.count("*").alias("n")).collect()
    }
    rows_by_file = {a["path"]: a.get("rows") for a in snap.adds}
    full = sorted(
        f for f, n in per_file.items()
        if rows_by_file.get(f) is not None and n == rows_by_file[f]
    )
    n_matched = sum(per_file.values())
    delete_adds: list[dict] = []
    if len(full) < len(per_file):  # some file matched only partially
        uid = uuid.uuid4().hex[:8]
        vdir = os.path.join(root, "deletes", f"v={snap.version + 1}-{uid}")
        partial = (
            matched.filter(~F.col("_tf_file").isin(full)) if full else matched
        )
        (
            partial.select(
                F.col("_tf_file").alias("_tf_dfile"),
                F.col("_tf_pos").alias("_tf_dpos"),
            )
            .repartition(1)
            .sortWithinPartitions("_tf_dfile", "_tf_dpos")
            .write.mode("error").parquet(vdir)
        )
        for p in sorted(glob.glob(os.path.join(vdir, "*.parquet"))):
            delete_adds.append({
                "path": os.path.relpath(p, root),
                "rows": int(pq.ParquetFile(p).metadata.num_rows),
            })
    return full, int(n_matched), delete_adds


def delete_where(spark: SparkSession, root: str, condition: str) -> int:
    """MERGE-ON-READ DELETE: remove every current row satisfying the SQL
    boolean expression ``condition`` WITHOUT rewriting data files.

    The commit records (a) whole-file removes for data files where ALL
    rows matched (no vector needed — the file just leaves the active
    set) and (b) a POSITION-DELETE parquet file of ``(_tf_dfile,
    _tf_dpos)`` pairs for partially-matched files, written sorted under
    ``deletes/v=<n>-<uid>/`` (one file — vectors are change-batch-
    sized; see _plan_vector_delete, shared with update_where). Positions are ``_metadata.row_index`` —
    stable physical row numbers in immutable files. Matching is
    computed against the delete-applied current snapshot, so repeated
    deletes never record the same position twice. Cost at 100 TB: one
    pruned scan to find matches + a KB-to-MB vector write — no data
    rewrite (that is ``compact``'s job, amortized); the COW/MOR trade
    as real formats ship it (Iceberg v2 position deletes, Delta
    deletion vectors). Returns the new version."""
    snap = snapshot(root)
    new_v = snap.version + 1
    matched = (
        _read(spark, snap, merge_schema=True, with_positions=True)
        .filter(F.expr(condition))
        .select("_tf_file", "_tf_pos")
    )
    full, n_deleted, delete_adds = _plan_vector_delete(matched, snap)
    schema = snap.schema
    _publish(root, new_v, {
        "version": new_v, "op": "delete", "adds": [], "removes": full,
        "delete_adds": delete_adds, "n_changes": n_deleted,
        "condition": condition,
        "schema": schema.json() if schema else None,
    })
    return new_v


def merge(
    spark: SparkSession,
    root: str,
    feed: DataFrame,
    key: str | Sequence[str],
    payload: Sequence[str],
    order_col: str,
    tiebreak: str,
    files: int = 4,
) -> int:
    """Copy-on-write MERGE of a CDC ``feed`` (op ∈ {'I','U','D'} full-row
    images — the apply_change_feed contract) into the table.

    ``key`` may be one column name or a composite-key list (a MERGE ON
    that is an AND of equalities); the touched-file probe and the
    change-feed apply then run on the full key tuple. Only files
    containing a fed key are rewritten; untouched files are
    carried forward by reference. Raises ValueError if the live table
    carries columns outside key+payload (a rewrite would silently drop
    an evolved column — the caller must list every live column).
    Returns the new version number (raises CommitConflict if a
    concurrent writer claimed it first).
    """
    key_cols = [key] if isinstance(key, str) else list(key)
    snap = snapshot(root)
    new_v = snap.version + 1
    cur_df = _current_with_file(spark, snap)
    extra = set(cur_df.columns) - {*key_cols, *payload, "_tf_file"}
    if extra:
        raise ValueError(
            f"merge payload must cover every live column; table has "
            f"evolved columns {sorted(extra)} not in key+payload — a "
            f"rewrite would drop their data"
        )
    touched, base_rows = _touched(cur_df, feed, key_cols)
    touched_set = set(touched)
    merged = apply_change_feed(
        base_rows.select(*key_cols, *payload), feed, key_cols, payload,
        order_col, tiebreak,
    ).select(*key_cols, *payload)
    with _validated(merged, snap.constraints) as vmerged:
        adds = _write_data(
            vmerged, root, new_v, files, snap.spec, mapping=snap.mapping
        )
    _publish(root, new_v, {
        "version": new_v, "op": "merge", "adds": adds,
        "removes": sorted(touched_set),
        "n_changes": feed.count(),
        "untouched_carried": sum(
            a["path"] not in touched_set for a in snap.adds
        ),
        "schema": merged.schema.json(),
    })
    return new_v


def merge_compacted(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    key: str,
    payload: Sequence[str],
    order_col: str,
    tiebreak: str,
    op_col: str = "op",
    epoch: int | None = None,
    files: int = 4,
    partition_by: str | Sequence[str] | None = None,
) -> int:
    """Copy-on-write merge for a COMPACTED CHANGE-STATE table: the table
    holds one sequence-maximal change record per ever-touched key —
    tombstones INCLUDED (schema: key, op, *payload, order_col,
    tiebreak). Each call folds ``batch`` in by latest-wins, which is
    associative and commutative over (order_col, tiebreak), so any
    batch split in any arrival order converges to the same state (the
    streaming/cdc.py argument, now over manifest-tracked immutable
    files instead of hand-rolled ``v=`` dirs).

    ``epoch`` makes retries exactly-once at the COMMIT level: a replay
    of an epoch already recorded in a manifest is a no-op (the
    checkpoint-recovery contract of foreachBatch sinks). Creates the
    table on first call.
    """
    cols = [key, op_col, *list(payload), order_col, tiebreak]
    from .dedup import latest_wins

    snap = snapshot(root)
    if epoch in snap.epochs:
        return snap.epochs[epoch]
    if not snap.log:
        spec = _normalize_spec(partition_by)
        merged = latest_wins(batch.select(*cols), key, order_col, tiebreak)
        adds = _write_data(merged, root, 0, files, spec)
        _publish(root, 0, {
            "version": 0, "op": "merge_compacted", "adds": adds,
            "removes": [], "n_changes": batch.count(), "epoch": epoch,
            "partition_by": spec, "schema": merged.schema.json(),
        })
        return 0
    new_v = snap.version + 1
    touched, base_rows = _touched(_current_with_file(spark, snap), batch, [key])
    merged = latest_wins(
        base_rows.select(*cols).unionByName(batch.select(*cols)),
        key, order_col, tiebreak,
    )
    with _validated(merged, snap.constraints) as vmerged:
        adds = _write_data(vmerged, root, new_v, files, snap.spec,
                           mapping=snap.mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "merge_compacted", "adds": adds,
        "removes": sorted(touched), "n_changes": batch.count(),
        "epoch": epoch, "schema": merged.schema.json(),
    })
    return new_v


def update_where(
    spark: SparkSession,
    root: str,
    condition: str,
    assignments: Mapping[str, str],
    files: int = 1,
) -> int:
    """MERGE-ON-READ UPDATE: ``UPDATE t SET col = expr, ... WHERE
    condition`` as ONE commit that position-DELETES the matched rows
    (vectors, no data rewrite) and ADDS a small file holding their
    updated images — the Delta deletion-vector update shape. Cost at
    100 TB follows the matched-row count: a wide UPDATE touching 0.1%
    of a 100 TB table writes ~100 GB of new rows + KB of vectors,
    instead of rewriting every file that contains a match (what the
    copy-on-write ``merge`` would do). ``assignments`` maps column ->
    SQL expression (evaluated on the matched pre-image rows; other
    columns carry). Unmatched rows are untouched by construction.
    Returns the new version."""
    snap = snapshot(root)
    new_v = snap.version + 1
    cur = _read(spark, snap, merge_schema=True, with_positions=True)
    matched = cur.filter(F.expr(condition))
    data_cols = [c for c in cur.columns if c not in ("_tf_file", "_tf_pos")]
    updated = matched.select(
        *[
            F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
            for c in data_cols
        ]
    )
    unknown = set(assignments) - set(data_cols)
    if unknown:
        raise ValueError(f"assignments reference unknown columns {sorted(unknown)}")
    with _validated(updated, snap.constraints) as vupd:
        # the delete half: the same vector machinery as delete_where
        full, n_matched, delete_adds = _plan_vector_delete(
            matched.select("_tf_file", "_tf_pos"), snap
        )
        adds = _write_data(vupd, root, new_v, files, snap.spec,
                           mapping=snap.mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "update", "adds": adds, "removes": full,
        "delete_adds": delete_adds, "n_changes": n_matched,
        "condition": condition,
        "assignments": dict(assignments),
        "schema": updated.schema.json(),
    })
    return new_v


def merge_mor(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    key: str,
    payload: Sequence[str],
    order_col: str,
    tiebreak: str,
    op_col: str = "op",
    epoch: int | str | None = None,
    files: int = 1,
) -> int:
    """MERGE-ON-READ apply of a CDC ``batch`` (op ∈ {'I','U','D'}
    full-row images — the apply_change_feed contract): ONE commit that
    position-DELETES the pre-images of every fed key (vectors, no data
    rewrite) and APPENDS the batch's latest-wins I/U images — the
    deletion-vector twin of :func:`merge`. Where COW ``merge`` rewrites
    every FILE containing a fed key, this writes only the changed ROWS
    plus KB of vectors, so commit cost follows the batch even when its
    keys are scattered across many files — the right write shape for a
    continuously-arriving CDC stream into a 100 TB table (reads pay the
    vector anti-join until ``compact`` folds them down). Snapshot
    semantics equal apply_change_feed over the same batch: an I/U image
    replaces any existing row with its key (upsert), D tombstones it.
    (order_col, tiebreak) resolve ordering WITHIN the batch only — the
    table stores rows, not sequenced change state, so cross-batch
    ordering is arrival order (state_n = apply(state_{n-1}, batch_n)).
    Feed a sequence-ordered stream, or use :func:`merge_compacted` when
    late cross-batch changes must lose to earlier higher-sequence ones.
    ``epoch`` gives commit-level exactly-once for checkpoint-replayed
    streaming batches (the merge_compacted contract). Returns the new
    version."""
    from .dedup import latest_wins

    snap = snapshot(root)
    if not snap.log:
        raise FileNotFoundError(
            f"merge_mor target {root} does not exist — create_table "
            f"first (the sink appends vectors+images to a pinned "
            f"schema; it never invents commit 0)"
        )
    if epoch in snap.epochs:
        return snap.epochs[epoch]
    new_v = snap.version + 1
    spec = snap.spec
    latest = latest_wins(
        batch.select(key, op_col, *payload, order_col, tiebreak),
        key, order_col, tiebreak,
    )
    cur = _read(spark, snap, merge_schema=True, with_positions=True)
    # pre-images of EVERY fed key leave the active set (I on an
    # existing key is an upsert — without its delete the appended image
    # would duplicate the row). No forced broadcast: a CDC batch can be
    # large; AQE broadcasts the key set when it is small enough.
    matched = cur.join(
        latest.select(key), key, "left_semi"
    ).select("_tf_file", "_tf_pos")
    full, _n_pre, delete_adds = _plan_vector_delete(matched, snap)
    images = latest.filter(F.col(op_col) != "D").select(key, *payload)
    if spec and not all(c in images.columns for c in spec):
        spec = None
    with _validated(images, snap.constraints) as vimg:
        adds = _write_data(vimg, root, new_v, files, spec,
                           mapping=snap.mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "merge_mor", "adds": adds,
        "removes": full, "delete_adds": delete_adds,
        "n_changes": batch.count(), "epoch": epoch,
        "schema": images.schema.json(),
    })
    return new_v


def compact(
    spark: SparkSession, root: str, files: int = 1,
    sort_by: str | None = None,
    zorder_by: Sequence[str] | None = None,
    where: Mapping[str, object] | None = None,
) -> int:
    """OPTIMIZE: rewrite the CURRENT snapshot into ``files`` files per
    partition value (or ``files`` total, unpartitioned) as one commit
    that removes every previously-active file — bin-packing the small
    files merges/appends accumulate. Pure layout change: the snapshot's
    rows are identical before and after (pinned by test; the read uses
    mergeSchema so an evolved column survives the rewrite — old rows
    materialize their NULLs, same values a merge_schema read produced),
    history stays time-travelable until vacuumed. The table-format twin
    of the reference's VACUUM/maintenance pass (Maintenance.sql:134-137)
    and of plans/layout.py's compaction entry, now manifest-committed.
    ``sort_by`` additionally range-clusters the rewrite (OPTIMIZE +
    1-D ZORDER in one pass: small-file bin-packing AND disjoint
    per-file stats intervals for the sort column). ``zorder_by``
    (two int columns) is the 2-D form — Morton-interleaved clustering
    so the manifest's per-file min/max rectangles prune range
    predicates on EITHER dimension (OPTIMIZE ZORDER BY).

    ``where`` (partition column -> value) makes the pass SELECTIVE:
    only active files of the matching partition value(s) rewrite;
    every other file — and every delete vector that references only
    unselected files — is carried untouched. Nobody OPTIMIZEs a whole
    100 TB table: maintenance runs partition-by-partition behind the
    ingest frontier, and its cost must follow the slice, not the
    table. Delete vectors that reference a selected file are applied
    by the rewrite and retired; a vector FILE that mixes selected and
    unselected references is split — its unselected remainder is
    rewritten as a new (smaller) vector file in the same commit, so
    merge-on-read deletes on untouched partitions survive exactly.
    Returns the current version unchanged when no active file
    matches."""
    snap = snapshot(root)
    new_v = snap.version + 1
    spec = snap.spec
    if zorder_by and spec:
        # validate the combination BEFORE any vector-split side effects:
        # _write_data would raise anyway, but only after selective
        # compaction may have split/written remainder vector files
        raise ValueError(
            "OPTIMIZE ZORDER composes with unpartitioned tables only "
            f"(table at {root} has partition spec {spec}); Z-order "
            "clustering and a hive partition spec both dictate file "
            "placement — use sort_by for within-partition clustering"
        )
    if where:
        if not spec:
            raise ValueError("selective OPTIMIZE needs a partition spec")
        unknown = set(where) - set(spec)
        if unknown:
            raise ValueError(
                f"WHERE references non-partition columns {sorted(unknown)}"
            )
        sel = [
            a for a in snap.adds
            if all(
                str(a.get("partition", {}).get(c)) == str(v)
                for c, v in where.items()
            )
        ]
        if not sel:
            return snap.version  # nothing to do: no-op, no commit
        current = sorted(a["path"] for a in sel)
        cur_dels, delete_adds_new = _split_vectors(snap, set(current))
        reader = spark.read.option("mergeSchema", "true")
        rows = _with_positions(
            reader.parquet(*[os.path.join(root, p) for p in current]), root
        )
        rows = _anti_vectors(spark, root, rows, snap.delete_adds).drop(
            "_tf_file", "_tf_pos"
        )
        adds = _write_data(rows, root, new_v, files, spec, sort_by, zorder_by)
        _publish(root, new_v, {
            "version": new_v, "op": "compact", "adds": adds,
            "removes": current, "n_changes": 0, "sort_by": sort_by,
            "zorder_by": list(zorder_by) if zorder_by else None,
            "partition_where": {str(c): str(v) for c, v in where.items()},
            "delete_removes": cur_dels,
            "delete_adds": delete_adds_new,
            "schema": rows.schema.json(),
        })
        return new_v
    current = [a["path"] for a in snap.adds]
    cur_dels = [d["path"] for d in snap.delete_adds]
    rows = _read(spark, snap, merge_schema=True)
    adds = _write_data(rows, root, new_v, files, spec, sort_by, zorder_by,
                       mapping=snap.mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "compact", "adds": adds,
        "removes": current, "n_changes": 0, "sort_by": sort_by,
        "zorder_by": list(zorder_by) if zorder_by else None,
        # the rewrite APPLIED the live delete vectors (read_version
        # subtracts them), so they are retired with the files they
        # referenced — merge-on-read read-amp resets to zero here
        "delete_removes": cur_dels,
        "schema": rows.schema.json(),
    })
    return new_v


def _split_vectors(
    snap: Snapshot, files: set[str]
) -> tuple[list[str], list[dict]]:
    """Retire every live delete-vector file of ``snap`` that references
    one of ``files`` (the data files a commit rewrites, applying the
    vectors); a vector file that also references other files has that
    remainder rewritten as a new vector file for ``snap``'s next
    version. Returns (delete_removes, delete_adds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = snap.root
    retired, remainders = [], []
    for d in snap.delete_adds:
        t = pq.read_table(os.path.join(root, d["path"]))
        hit = [f in files for f in t.column("_tf_dfile").to_pylist()]
        if not any(hit):
            continue  # references only other files: stays live
        retired.append(d["path"])
        if not all(hit):
            keep = t.filter(pa.array([not h for h in hit]))
            uid = uuid.uuid4().hex[:8]
            vdir = os.path.join(root, "deletes", f"v={snap.version + 1}-{uid}")
            os.makedirs(vdir, exist_ok=True)
            vpath = os.path.join(vdir, "part-00000.parquet")
            pq.write_table(
                keep.sort_by([("_tf_dfile", "ascending"),
                              ("_tf_dpos", "ascending")]),
                vpath,
            )
            remainders.append({
                "path": os.path.relpath(vpath, root),
                "rows": keep.num_rows,
            })
    return retired, remainders


def purge(spark: SparkSession, root: str, files: int = 4) -> int:
    """REORG TABLE ... PURGE (r12 — verdict #3): physically shed DEAD
    physical columns from a column-mapped table's active files.

    drop_column is metadata-only — the dropped column's bytes stay in
    every existing file forever, which breaks the right-to-erasure
    composition ("drop" is not "erase"). This pass completes it:
    rewrite ONLY the active files still carrying a physical column the
    current mapping no longer references (found by a KB-scale footer
    schema probe per active file — metadata, never a data scan), as ONE
    commit whose row content is bit-identical (n_changes = 0, invisible
    to the change feed — the carried-row filter cancels it, like a
    compact). Files already free of dead columns are not touched, so
    the pass costs the stale file set, not the table — at 100 TB you
    purge behind the retention frontier, not wholesale. Live
    merge-on-read delete vectors referencing a rewritten file are
    applied by the rewrite and retired; a vector file that mixes stale
    and clean references is split, its clean remainder rewritten in the
    same commit (the selective-OPTIMIZE discipline). Time travel to
    pre-purge versions still reads the dead column's bytes until
    ``vacuum`` expires those files — after retention + vacuum the bytes
    are provably gone (the catalog entry asserts it on the parquet
    footers). Returns the new version, or the current one unchanged
    when no active file carries dead bytes (no-op, no commit).

    Parity: Delta's ``REORG TABLE ... APPLY (PURGE)``; the reference
    has no mapped tables — beyond-reference surface."""
    import pyarrow.parquet as pq

    snap = snapshot(root)
    mapping = snap.mapping
    if mapping is None:
        raise ValueError(
            f"PURGE needs a column-mapped table (table at {root} stores "
            f"logical names physically — there are no dead physical "
            f"columns to shed; use OPTIMIZE for layout maintenance)"
        )
    new_v = snap.version + 1
    live_phys = {f["physical"] for f in mapping["fields"]}
    stale = sorted(
        a["path"] for a in snap.readable().adds
        if set(pq.read_schema(os.path.join(root, a["path"])).names)
        - live_phys
    )
    if not stale:
        return snap.version
    cur_dels, delete_adds_new = _split_vectors(snap, set(stale))
    # the CURRENT physical schema IS the purge projection: reading the
    # stale files under it simply never selects the dead columns
    df = spark.read.schema(_phys_ddl(mapping)).parquet(
        *[os.path.join(root, p) for p in stale]
    )
    df = _with_positions(df, root)
    df = _anti_vectors(spark, root, df, snap.delete_adds)
    logical = _to_logical(df, mapping)
    adds = _write_data(logical, root, new_v, files, None, mapping=mapping)
    _publish(root, new_v, {
        "version": new_v, "op": "purge", "adds": adds, "removes": stale,
        "n_changes": 0,
        "delete_removes": cur_dels,
        "delete_adds": delete_adds_new,
        "schema": logical.schema.json(),
    })
    return new_v


def change_feed(
    spark: SparkSession,
    root: str,
    key: str,
    payload: Sequence[str],
    v_from: int = 0,
    v_to: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED: row-level changes between versions — every
    commit in ``(v_from, v_to]`` contributes its inserts / deletes /
    update post-images, derived by diffing ONLY the files that commit
    removed (pre-state) against the files it added (post-state), never
    whole snapshots — so feed cost follows the commits' touched files,
    exactly like the merges that produced them (the Delta
    ``table_changes`` surface, computed from the manifests instead of
    stored CDC files). Merge-on-read delete commits contribute the
    pre-images of their vectored positions (read from only the
    referenced files); every commit's pre-state subtracts the vectors
    live at v-1 so a vector-retiring compact never re-reports rows.
    Output: key, *payload (the post-image; for deletes, the final
    pre-image), ``_change_type`` in {'insert', 'update_postimage',
    'delete'}, ``_commit_version``. Rows a rewrite merely carried
    (payload bit-identical under null-safe comparison) are filtered
    out. Requires key-unique snapshots — the contract ``merge``
    maintains."""
    snap = snapshot(root, v_to)
    v_to = snap.version
    pay = list(payload)
    # column-mapped tables: physical names are immutable, so EVERY
    # version's files resolve under the v_to mapping's physical schema;
    # output uses the v_to logical names (a renamed column keeps its
    # field id and therefore its history; a re-added name is a new id
    # whose physical column simply doesn't exist in old files)
    mapping = snap.mapping

    def _rd(paths: list[str]) -> DataFrame:
        r = spark.read.schema(_phys_ddl(mapping)) if mapping else spark.read
        return r.parquet(*paths)

    def _logical(d: DataFrame) -> DataFrame:
        return _to_logical(d, mapping) if mapping else d

    parts: list[DataFrame] = []
    fold = _Fold()  # walked alongside: the vectors live at v - 1
    for v, m in snap.log:
        if v > v_to:
            break
        live_before = _by_path(fold.dels)
        fold.apply(v, m)
        if v <= v_from:
            continue
        adds = [os.path.join(root, _norm_add(a)["path"]) for a in m["adds"]]
        rems = [os.path.join(root, p) for p in m["removes"]]
        if m.get("op") == "update":
            # a MoR UPDATE's adds are, by construction, exactly the
            # updated images of the matched rows (their pre-images are
            # vectored/removed in the same commit) — report them as
            # update_postimage, never delete+insert pairs
            if adds:
                parts.append(
                    _logical(_rd(adds)).select(key, *pay)
                    .withColumn("_change_type", F.lit("update_postimage"))
                    .withColumn("_commit_version", F.lit(v))
                )
            continue
        new = (
            _logical(_rd(adds)).select(key, *pay) if adds else None
        )
        old = None
        if rems:
            # the pre-state of removed files is their rows AS VISIBLE at
            # v-1: physical rows minus the delete vectors live then —
            # otherwise a compact (or merge) that retires vectors would
            # re-report rows an earlier delete commit already emitted
            old = _logical(_anti_vectors(
                spark, root,
                _with_positions(_rd(rems), root),
                live_before,
            )).select(key, *pay)
        # a selective compact's / purge's delete_adds are REWRITTEN
        # remainders of vectors it split (bookkeeping, not new deletes)
        # — skip them
        dvec = (
            [] if m.get("op") in ("compact", "purge")
            else [_norm_add(d) for d in m.get("delete_adds", [])]
        )
        if dvec:
            # merge-on-read commit: pre-images of the vectored
            # positions, read from ONLY the referenced data files
            dv = spark.read.parquet(
                *[os.path.join(root, d["path"]) for d in dvec]
            )
            ref = [
                r[0] for r in dv.select("_tf_dfile").distinct().collect()
            ]  # vector-file metadata, change-batch-sized
            data = _with_positions(
                _rd([os.path.join(root, f) for f in ref]),
                root,
            )
            pre = _logical(data.join(
                F.broadcast(dv),
                (F.col("_tf_file") == F.col("_tf_dfile"))
                & (F.col("_tf_pos") == F.col("_tf_dpos")),
                "left_semi",
            )).select(key, *pay)
            if m.get("op") == "merge_mor":
                # a streaming MoR merge vectors the pre-images of EVERY
                # fed key and appends the I/U post-images in the same
                # commit: fold the vectored pre-images into the commit's
                # pre-state so the generic key diff below classifies
                # each key as insert / update_postimage / delete —
                # instead of emitting delete+insert pairs for updates
                old = pre if old is None else old.unionByName(pre)
            else:
                parts.append(
                    pre.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v))
                )
        if new is None and old is None:
            continue
        if old is None:
            ch = new.withColumn("_change_type", F.lit("insert"))
        elif new is None:
            ch = old.withColumn("_change_type", F.lit("delete"))
        else:
            o = old.select(F.col(key), F.struct(*pay).alias("_pre"))
            n = new.select(F.col(key), F.struct(*pay).alias("_post"))
            j = o.join(n, key, "full_outer")
            ch = (
                j.withColumn(
                    "_change_type",
                    F.when(F.col("_pre").isNull(), F.lit("insert"))
                    .when(F.col("_post").isNull(), F.lit("delete"))
                    .when(
                        ~F.col("_pre").eqNullSafe(F.col("_post")),
                        F.lit("update_postimage"),
                    ),  # equal pre/post -> NULL -> carried row, dropped
                )
                .filter(F.col("_change_type").isNotNull())
                .withColumn("_img", F.coalesce("_post", "_pre"))
                .select(key, "_img.*", "_change_type")
            )
        parts.append(ch.withColumn("_commit_version", F.lit(v)))
    if not parts:
        schema = snap.schema
        base = spark.createDataFrame([], schema) if schema else None
        if base is None:
            raise FileNotFoundError(f"no readable commits at {root}")
        return (
            base.select(key, *pay)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0))
            .limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def vacuum(
    root: str, keep_versions: int = 1, orphan_grace_sec: float = 86400.0
) -> list[str]:
    """Delete data files unreferenced by the last ``keep_versions``
    committed snapshots (time travel older than that is sacrificed —
    the retention trade every real format documents). Two-tier safety:
    files named in SOME manifest but expired are deleted immediately
    (they were committed; no in-flight writer owns them); files in NO
    manifest are a possibly in-flight writer's pre-commit data and are
    deleted only once older than ``orphan_grace_sec`` (default 24h) —
    so vacuum can never strand a concurrent writer's about-to-commit
    files. Records the new retention floor so ``read_version`` of an
    expired version fails fast (VersionExpired) instead of surfacing a
    mid-scan FileNotFound. Returns deleted relative paths."""
    snap = snapshot(root).readable()
    retained = snap.versions[-keep_versions:]
    snap.readable(retained[0])  # below an earlier vacuum's floor: expired
    live: set[str] = set()
    committed: set[str] = set()
    fold = _Fold()
    for v, m in snap.log:
        fold.apply(v, m)
        committed |= {_norm_add(a)["path"] for a in m["adds"]}
        committed |= {_norm_add(d)["path"] for d in m.get("delete_adds", [])}
        if v >= retained[0]:
            live |= fold.adds.keys() | fold.dels.keys()
    now = time.time()
    deleted = []
    for p in glob.glob(
        os.path.join(root, "data", "**", "*.parquet"), recursive=True
    ) + glob.glob(
        os.path.join(root, "deletes", "**", "*.parquet"), recursive=True
    ):
        relp = os.path.relpath(p, root)
        if relp in live:
            continue
        if relp in committed or now - os.path.getmtime(p) > orphan_grace_sec:
            os.unlink(p)
            deleted.append(relp)
    floor = max(snap.floor, retained[0])
    with open(_retention_path(root), "w") as fh:
        json.dump({"earliest_readable": floor}, fh)
    return sorted(deleted)


def history(root: str) -> list[dict]:
    """Every published manifest, ascending (shared with the process
    memo: read, never mutate)."""
    return [m for _, m in _log(root)]


def version_as_of_timestamp(root: str, ts: float) -> int:
    """Latest version whose commit time is <= ``ts`` (epoch seconds) —
    the TIMESTAMP AS OF resolution rule real formats use. Raises if the
    table did not exist yet at ``ts``."""
    best = None
    for v, m in _log(root):
        at = m.get("committed_at")
        if at is None:
            # manifests published before committed_at existed: the
            # commit file's mtime is the publish instant (os.link
            # preserves the temp file's write time) — without this
            # fallback TIMESTAMP AS OF on a pre-existing table could
            # claim it "did not exist" at a time when it did
            at = os.path.getmtime(_commit_path(root, v))
        if at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at or before timestamp {ts} at {root}"
        )
    return best


def _parse_ts(raw: str) -> float:
    """Epoch seconds from an epoch literal or ISO timestamp string.
    A timezone-NAIVE ISO string is interpreted as UTC — committed_at is
    a UTC epoch and the engine pins spark.sql.session.timeZone=UTC, so
    host-local interpretation would resolve a different snapshot on
    every non-UTC machine."""
    s = raw.strip().strip("'\"")
    try:
        return float(s)
    except ValueError:
        dt = datetime.datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        return dt.timestamp()


def _meta_history_df(spark: SparkSession, root: str) -> DataFrame:
    rows = []
    for m in history(root):
        rows.append((
            int(m["version"]), m.get("op", ""),
            float(m.get("committed_at") or 0.0),
            int(m.get("n_changes") or 0),
            len(m.get("adds", [])), len(m.get("removes", [])),
            len(m.get("delete_adds", []) or []),
        ))
    return spark.createDataFrame(
        rows,
        "version INT, op STRING, committed_at DOUBLE, n_changes BIGINT, "
        "files_added INT, files_removed INT, vector_files_added INT",
    )


def _meta_files_df(spark: SparkSession, root: str) -> DataFrame:
    rows = [
        (
            a["path"], int(a.get("rows") or 0),
            json.dumps(a.get("partition") or {}, sort_keys=True),
            json.dumps(a.get("stats") or {}, sort_keys=True),
        )
        for a in active_adds(root)
    ]
    return spark.createDataFrame(
        rows, "path STRING, rows BIGINT, partition STRING, stats STRING"
    )


def _meta_constraints_df(spark: SparkSession, root: str) -> DataFrame:
    cons = active_constraints(root)
    return spark.createDataFrame(
        [(k, cons[k]) for k in sorted(cons)] or [],
        "constraint_name STRING, expression STRING",
    )


#: ``<table> VERSION AS OF <n>`` — the SQL time-travel clause
_TT_CLAUSE = re.compile(r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.IGNORECASE)

#: ``<table> TIMESTAMP AS OF '<iso-or-epoch>'``
_TS_CLAUSE = re.compile(
    r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s+('[^']*'|\"[^\"]*\"|[\d.]+)",
    re.IGNORECASE,
)

#: ``<table>$history`` / ``$files`` / ``$constraints`` metadata tables
_META_CLAUSE = re.compile(r"\b(\w+)\$(history|files|constraints)\b")

#: routed DML statements (single-table, single-statement)
_DELETE_STMT = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_STMT = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_STMT = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
    r"\s+USING\s+(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?"
    r"\s+ON\s+(.+?)"
    r"\s+(WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_CLAUSE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED(\s+BY\s+(?:SOURCE|TARGET))?"
    r"(?:\s+AND\s+(.+?))?\s*THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s+\*|"
    r"INSERT\s*\([^)]*\)\s*VALUES\s*\(.+?\))"
    r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


def _parse_on_keys(
    on_raw: str, talias: str, salias: str
) -> list[tuple[str, str]]:
    """(target, source) key column pairs from a MERGE ON clause: one
    alias-qualified equality or an AND of them (the compound-key
    grammar; each equality may be written in either orientation)."""
    keys: list[tuple[str, str]] = []
    for eq_raw in re.split(r"\s+AND\s+", on_raw.strip(), flags=re.IGNORECASE):
        eq = _ON_EQ.match(eq_raw)
        if not eq:
            raise ValueError(
                f"MERGE ON must be alias-qualified equalities joined by "
                f"AND (got {eq_raw!r} in {on_raw!r})"
            )
        qa, ca, qb, cb = (g.strip() for g in eq.groups())
        if qa == talias and qb == salias:
            keys.append((ca, cb))
        elif qa == salias and qb == talias:
            keys.append((cb, ca))
        else:
            raise ValueError(
                f"MERGE ON qualifiers {qa!r}/{qb!r} must be the target "
                f"and source aliases ({talias!r}, {salias!r})"
            )
    tkeys = [t for t, _ in keys]
    if len(set(tkeys)) != len(tkeys):
        raise ValueError(f"MERGE ON repeats a target key column: {tkeys}")
    return keys
_INSERT_STMT = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s+(VALUES\s*\(.+\)|SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE_STMT = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_PART_EQ = re.compile(r"^\s*(\w+)\s*=\s*('[^']*'|\"[^\"]*\"|\S+)\s*$")
_VACUUM_STMT = re.compile(
    r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*;?\s*$",
    re.IGNORECASE,
)
#: REORG ... PURGE (r12): Delta's grammar, with APPLY optional
_REORG_PURGE_STMT = re.compile(
    r"^\s*REORG\s+TABLE\s+(\w+)\s+(?:APPLY\s*\(\s*PURGE\s*\)|PURGE)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
#: column-mapping DDL (r11): metadata-only evolution as statements
_ALTER_RENAME_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w(),. ]+?)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+"
    r"([\w(),. ]+?)\s*;?\s*$",
    re.IGNORECASE,
)


def _split_assignments(raw: str) -> dict[str, str]:
    """``a = expr, b = expr`` -> {a: expr}; the commas are split by
    :func:`_split_values`."""
    out: dict[str, str] = {}
    for p in _split_values(raw):
        col, _, expr = p.partition("=")
        col, expr = col.strip(), expr.strip()
        if not col or not expr:
            raise ValueError(f"malformed SET assignment: {p!r}")
        out[col] = expr
    return out


def _strip_alias(name: str, alias: str) -> str:
    """``t.col`` -> ``col`` when the qualifier is the target alias."""
    qual, dot, bare = name.strip().partition(".")
    if dot and qual == alias:
        return bare.strip()
    return name.strip()


def _route_merge(
    spark: SparkSession, tables: Mapping[str, str], query: str,
    strict: bool = False,
) -> DataFrame | None:
    """Route a ``MERGE INTO`` statement to the copy-on-write
    :func:`merge` commit — the reference's ``INSERT ... ON CONFLICT DO
    UPDATE`` (Iteration 1/Group No.6_ETL.sql:304-315) reachable as ONE
    SQL statement, the way a Delta-habituated user writes it.

    Supported grammar (the Delta core shape)::

        MERGE INTO <t> [[AS] a] USING <src> [[AS] b]
        ON a.<k1> = b.<k1> [AND a.<k2> = b.<k2> ...]   -- compound keys
        WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, ...
        WHEN MATCHED [AND <cond>] THEN DELETE
        WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT *
        WHEN NOT MATCHED [BY TARGET] [AND <cond>]
            THEN INSERT (cols) VALUES (exprs)
        WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET ...
        WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE

    Clauses apply FIRST-MATCH-WINS per row within each of the three
    categories (each clause's frame is guarded by NOT(all prior
    same-category conditions), null-safe). ``WHEN NOT MATCHED BY
    SOURCE`` addresses target rows with no source match — the
    full-sync half of a dimension refresh (delete/flag rows that
    vanished upstream, the other half of the reference's ON CONFLICT
    semantics, ETL.sql:304-315); its conditions and SET expressions may
    reference the target alias only. The clause frames compile to ONE
    change feed (op I/U/D full-row images) applied by one :func:`merge`
    commit, so the statement inherits COW's file-granular cost model:
    only files containing fed keys rewrite. ``<src>`` resolves to
    another registered table-format table or any name ``spark.table``
    can see (temp views).

    Delta-contract guards: an UPDATE SET may never assign an ON key
    column (a re-keyed image would duplicate the row — raises), an
    INSERT column list must include every ON key (a NULL-key row breaks
    the key-unique invariant — raises), and INSERT * requires the
    source schema to be a subset of the target's (extra source columns
    would silently drop — raises). At most one source row should match
    each target key; ``strict=True`` enforces it (one extra count
    aggregate over the matched join — the Delta
    ``MERGE_CARDINALITY_VIOLATION`` check), otherwise violations
    resolve deterministically by the latest-wins tiebreak. Returns the
    routed-DML receipt frame or None when the statement is not a MERGE
    on a registered table."""
    m = _MERGE_STMT.match(query)
    if not m or m.group(1) not in tables:
        return None
    tname, talias, sname, salias, on_raw, whens_raw = m.groups()
    talias, salias = talias or tname, salias or sname
    root = tables[tname]
    key_pairs = _parse_on_keys(on_raw, talias, salias)
    keys = [t for t, _ in key_pairs]
    clauses = _WHEN_CLAUSE.findall(whens_raw)
    if not clauses or _WHEN_CLAUSE.sub("", whens_raw).strip():
        raise ValueError(f"unparseable MERGE WHEN clauses: {whens_raw!r}")

    cur = read_version(spark, root, merge_schema=True)
    payload = [c for c in cur.columns if c not in keys]
    types = {f.name: f.dataType for f in cur.schema.fields}
    src = (
        read_version(spark, tables[sname])
        if sname in tables
        else spark.table(sname)
    )
    joined = cur.alias(talias).join(src.alias(salias), F.expr(on_raw))
    anti = src.alias(salias).join(cur.alias(talias), F.expr(on_raw), "left_anti")
    # target rows with NO source match — the BY SOURCE frame
    tgt_anti = cur.alias(talias).join(
        src.alias(salias), F.expr(on_raw), "left_anti"
    )
    if strict:
        # the Delta cardinality contract: >1 SOURCE row matching one
        # target key is an error, not a silent tiebreak. Counted on the
        # source side (matched source rows grouped by the SOURCE key
        # columns, via a semi-join rather than re-executing the full
        # inner join) so a duplicate-keyed TARGET — a broken table
        # invariant, not a feed problem — can never be misreported as
        # a source cardinality violation (ADVICE r11 #3).
        skeys = [s for _, s in key_pairs]
        dup = (
            src.alias(salias)
            .join(cur.alias(talias), F.expr(on_raw), "left_semi")
            .groupBy(*[F.col(c) for c in skeys])
            .count().filter(F.col("count") > 1)
        )
        if dup.limit(1).count():
            raise ValueError(
                "MERGE cardinality violation: the source feed has more "
                f"than one row for a matched key {skeys} (strict mode; "
                "dedupe the source or drop strict for latest-wins)"
            )

    def _img(col_exprs: Mapping[str, str], base_alias: str | None, frame):
        out = []
        for c in [*keys, *payload]:
            if c in col_exprs:
                e = F.expr(col_exprs[c])
            elif base_alias is not None:
                e = F.col(f"{base_alias}.{c}")
            else:
                e = F.lit(None)
            out.append(e.cast(types[c]).alias(c))
        return frame.select(*out)

    def _sets_of(up_match) -> dict[str, str]:
        sets = {
            _strip_alias(c, talias): e
            for c, e in _split_assignments(up_match.group(1)).items()
        }
        unknown = set(sets) - set(payload) - set(keys)
        if unknown:
            raise ValueError(f"SET references unknown columns {sorted(unknown)}")
        keyed = set(sets) & set(keys)
        if keyed:
            # assigning the merge key re-keys the image: merge() keys
            # touched files by FED keys, so the old row would never be
            # removed and the new image would duplicate it — silent
            # corruption. Delta forbids it outright; so do we.
            raise ValueError(
                f"UPDATE SET may not assign ON key column(s) "
                f"{sorted(keyed)} — a MERGE cannot re-key a row"
            )
        return sets

    feed_parts = []
    guards: dict[str, list] = {"matched": [], "not_matched": [], "nm_source": []}
    for not_kw, by_kw, cond, action in clauses:
        by = (by_kw or "").strip().upper().replace(" ", "")
        if not not_kw and by:
            raise ValueError(
                f"WHEN MATCHED takes no BY qualifier (got {by_kw!r})"
            )
        if not_kw:
            cat = "nm_source" if by == "BYSOURCE" else "not_matched"
        else:
            cat = "matched"
        this = (
            F.coalesce(F.expr(cond), F.lit(False)) if cond.strip()
            else F.lit(True)
        )
        guard = this
        for prev in guards[cat]:
            guard = guard & ~prev
        guards[cat].append(this)
        act = action.strip()
        up = re.match(r"UPDATE\s+SET\s+(.+)$", act, re.IGNORECASE | re.DOTALL)
        ins = re.match(
            r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*$",
            act, re.IGNORECASE | re.DOTALL,
        )
        if cat == "matched" and up:
            img = _img(_sets_of(up), talias, joined.filter(guard))
            feed_parts.append(img.withColumn("op", F.lit("U")))
        elif cat == "matched" and act.upper() == "DELETE":
            img = _img({}, talias, joined.filter(guard))
            feed_parts.append(img.withColumn("op", F.lit("D")))
        elif cat == "nm_source" and up:
            # conditions/SETs here see only the target alias: the source
            # did not match, so any s.* reference fails resolution loudly
            img = _img(_sets_of(up), talias, tgt_anti.filter(guard))
            feed_parts.append(img.withColumn("op", F.lit("U")))
        elif cat == "nm_source" and act.upper() == "DELETE":
            img = _img({}, talias, tgt_anti.filter(guard))
            feed_parts.append(img.withColumn("op", F.lit("D")))
        elif cat == "not_matched" and act.upper().replace(" ", "") == "INSERT*":
            extra_src = set(src.columns) - set(cur.columns)
            if extra_src:
                raise ValueError(
                    f"INSERT * source carries columns absent from the "
                    f"target {sorted(extra_src)} — they would silently "
                    f"drop; project the source or list the columns"
                )
            img = _img(
                {c: f"{salias}.{c}" for c in [*keys, *payload]},
                None, anti.filter(guard),
            )
            feed_parts.append(img.withColumn("op", F.lit("I")))
        elif cat == "not_matched" and ins:
            cols = [
                _strip_alias(c, talias)
                for c in ins.group(1).split(",") if c.strip()
            ]
            vals = _split_values(ins.group(2))
            if len(cols) != len(vals):
                raise ValueError(
                    f"INSERT has {len(cols)} columns but {len(vals)} values"
                )
            unknown = set(cols) - set(payload) - set(keys)
            if unknown:
                raise ValueError(f"INSERT references unknown columns {sorted(unknown)}")
            missing_keys = set(keys) - set(cols)
            if missing_keys:
                raise ValueError(
                    f"INSERT column list must include the ON key "
                    f"column(s) {sorted(missing_keys)} — a NULL-key row "
                    f"breaks the key-unique invariant"
                )
            img = _img(dict(zip(cols, vals)), None, anti.filter(guard))
            feed_parts.append(img.withColumn("op", F.lit("I")))
        else:
            raise ValueError(
                f"MERGE clause action {act!r} not valid for "
                f"WHEN {'NOT ' if not_kw else ''}MATCHED"
                f"{' BY SOURCE' if cat == 'nm_source' else ''}"
            )
    feed = feed_parts[0]
    for p in feed_parts[1:]:
        feed = feed.unionByName(p)
    feed = (
        feed.select(*keys, "op", *payload)
        .withColumn("seq", F.lit(1))
        # the non-strict duplicate-source-key tiebreak must not depend
        # on partition order: xxhash64 over the full image makes the
        # latest-wins pick a pure function of row CONTENT
        .withColumn("tb", F.xxhash64("op", *keys, *payload))
    )
    return _receipt(
        spark, "merge", root, merge(spark, root, feed, keys, payload, "seq", "tb")
    )


def _receipt(
    spark: SparkSession, op: str, root: str, version: int,
    n_changes: int | None = None,
) -> DataFrame:
    """The 1-row (op, version, n_changes) frame a routed statement
    returns; ``n_changes`` defaults to the count the commit recorded."""
    if n_changes is None:
        n_changes = int(dict(_log(root))[version]["n_changes"])
    return spark.createDataFrame(
        [(op, version, n_changes)], "op STRING, version INT, n_changes BIGINT"
    )


def _split_values(raw: str) -> list[str]:
    """Comma-split a VALUES or SET list into stripped parts; commas
    inside parentheses or quotes do not split (a linear scan, not a SQL
    parser)."""
    parts, depth, buf, in_q = [], 0, [], None
    for ch in raw:
        if in_q:
            buf.append(ch)
            if ch == in_q:
                in_q = None
            continue
        if ch in "'\"":
            in_q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def sql(
    spark: SparkSession, tables: Mapping[str, str], query: str,
    strict_merge: bool = False,
) -> DataFrame:
    """Tiny SQL resolver over table-format tables — the Delta-style SQL
    surface, resolved pre-parse. ``tables`` maps SQL names to roots.

    Reads: ``<name> VERSION AS OF <n>`` and ``<name> TIMESTAMP AS OF
    '<iso|epoch>'`` become snapshot temp views (``<name>__v<n>`` —
    stable names, re-runs reuse them); ``<name>$history`` /
    ``<name>$files`` / ``<name>$constraints`` become metadata views
    built from the manifests (driver-side KB, no data scan); bare
    ``<name>`` binds the latest snapshot.

    DML / maintenance statements route to the corresponding commit and
    return a 1-row (op, version, n_changes) receipt frame:
    ``DELETE FROM <name> WHERE ...`` / ``UPDATE <name> SET ... WHERE
    ...`` -> the merge-on-read ``delete_where`` / ``update_where``;
    ``MERGE INTO <name> USING ... ON ... WHEN [NOT] MATCHED ...`` ->
    the copy-on-write ``merge`` (see :func:`_route_merge` for the
    grammar); ``INSERT INTO <name> VALUES (...)|SELECT ...`` ->
    ``append`` (source columns matched by POSITION and cast to the
    table schema; a SELECT source resolves through this same function,
    so it may read other registered tables, time-travel clauses, or
    metadata views); ``OPTIMIZE <name> [ZORDER BY (a, b)]`` ->
    ``compact``; ``VACUUM <name> [RETAIN <n> VERSIONS]`` ->
    ``vacuum`` (n_changes = files reclaimed); on a column-mapped table,
    ``ALTER TABLE <name> RENAME COLUMN a TO b`` / ``DROP COLUMN a`` /
    ``ADD COLUMN a <type>`` / ``ALTER COLUMN a TYPE <wider>`` -> the
    corresponding metadata-only mapping commit. ``strict_merge=True``
    makes a routed MERGE raise on duplicate-source-key matches (the
    Delta cardinality contract) instead of latest-wins tiebreaking."""
    routed = _route_merge(spark, tables, query, strict=strict_merge)
    if routed is not None:
        return routed
    m = _INSERT_STMT.match(query)
    if m and m.group(1) in tables:
        name, src_sql = m.group(1), m.group(2)
        root = tables[name]
        # evaluate the source through this same resolver, so a SELECT
        # may read other registered tables, time-travel clauses, or
        # metadata views; a bare VALUES list evaluates directly
        src = (
            spark.sql(src_sql)
            if re.match(r"VALUES", src_sql, re.IGNORECASE)
            else sql(spark, tables, src_sql)
        )
        target = read_version(spark, root, merge_schema=True)
        if len(src.columns) != len(target.columns):
            raise ValueError(
                f"INSERT INTO {name}: {len(src.columns)} source columns "
                f"for {len(target.columns)} table columns"
            )
        # positional match + cast to the table schema (the INSERT INTO
        # contract real formats use)
        aligned = src.select(*[
            F.col(src.columns[i]).cast(f.dataType).alias(f.name)
            for i, f in enumerate(target.schema.fields)
        ])
        return _receipt(spark, "insert", root, append(spark, root, aligned))
    m = _OPTIMIZE_STMT.match(query)
    if m and m.group(1) in tables:
        name, where_raw, zcols = m.group(1), m.group(2), m.group(3)
        zorder_by = (
            [c.strip() for c in zcols.split(",") if c.strip()]
            if zcols else None
        )
        where = None
        if where_raw:
            # conjunctions of partition-column equalities only (the
            # Delta OPTIMIZE ... WHERE contract)
            where = {}
            for clause in re.split(r"\s+AND\s+", where_raw, flags=re.IGNORECASE):
                pe = _PART_EQ.match(clause)
                if not pe:
                    raise ValueError(
                        f"OPTIMIZE WHERE must be partition equalities "
                        f"(got {clause!r})"
                    )
                where[pe.group(1)] = pe.group(2).strip("'\"")
        root = tables[name]
        v = compact(spark, root, zorder_by=zorder_by, where=where)
        return _receipt(spark, "optimize", root, v)
    m = _VACUUM_STMT.match(query)
    if m and m.group(1) in tables:
        name, keep = m.group(1), m.group(2)
        root = tables[name]
        deleted = vacuum(root, keep_versions=int(keep) if keep else 1)
        return _receipt(spark, "vacuum", root, _log(root)[-1][0], len(deleted))
    m = _REORG_PURGE_STMT.match(query)
    if m and m.group(1) in tables:
        root = tables[m.group(1)]
        return _receipt(spark, "purge", root, purge(spark, root), 0)
    # column-mapping DDL -> metadata commits (rename/drop/add/widen as
    # ALTER TABLE statements, the way a lake user types them)
    for stmt, route in (
        (_ALTER_RENAME_STMT, lambda r, g: rename_column(r, g[1], g[2])),
        (_ALTER_DROP_STMT, lambda r, g: drop_column(r, g[1])),
        (_ALTER_ADD_STMT, lambda r, g: add_column(r, g[1], g[2].strip().lower())),
        (_ALTER_TYPE_STMT, lambda r, g: widen_column(r, g[1], g[2].strip().lower())),
    ):
        m = stmt.match(query)
        if m and m.group(1) in tables:
            root = tables[m.group(1)]
            return _receipt(spark, "alter", root, route(root, m.groups()), 0)
    m = _DELETE_STMT.match(query)
    if m and m.group(1) in tables:
        root = tables[m.group(1)]
        return _receipt(
            spark, "delete", root, delete_where(spark, root, m.group(2))
        )
    m = _UPDATE_STMT.match(query)
    if m and m.group(1) in tables:
        root, sets, cond = tables[m.group(1)], m.group(2), m.group(3)
        v = update_where(spark, root, cond, _split_assignments(sets))
        return _receipt(spark, "update", root, v)

    def _sub(m: re.Match) -> str:
        name, v = m.group(1), int(m.group(2))
        if name not in tables:
            return m.group(0)
        view = f"{name}__v{v}"
        read_version(spark, tables[name], v).createOrReplaceTempView(view)
        return view

    def _sub_ts(m: re.Match) -> str:
        name = m.group(1)
        if name not in tables:
            return m.group(0)
        v = version_as_of_timestamp(tables[name], _parse_ts(m.group(2)))
        view = f"{name}__v{v}"
        read_version(spark, tables[name], v).createOrReplaceTempView(view)
        return view

    def _sub_meta(m: re.Match) -> str:
        name, kind = m.group(1), m.group(2)
        if name not in tables:
            return m.group(0)
        view = f"{name}__{kind}"
        builder = {
            "history": _meta_history_df,
            "files": _meta_files_df,
            "constraints": _meta_constraints_df,
        }[kind]
        builder(spark, tables[name]).createOrReplaceTempView(view)
        return view

    rewritten = _TT_CLAUSE.sub(_sub, query)
    rewritten = _TS_CLAUSE.sub(_sub_ts, rewritten)
    rewritten = _META_CLAUSE.sub(_sub_meta, rewritten)
    for name, root in tables.items():
        # \b keeps <name>__v<n> views from re-binding (underscore is a
        # word char, so there is no boundary before "__v")
        if re.search(rf"\b{name}\b", rewritten):
            read_version(spark, root).createOrReplaceTempView(name)
    return spark.sql(rewritten)
