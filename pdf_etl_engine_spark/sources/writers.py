"""Sinks: typed table create, append, schema evolution (SURVEY.md
§2.1 S3-S5).

The reference's sink is BigQuery streaming insert plus hand-rolled
ALTER TABLE ADD COLUMN schema sync (/root/reference/main.py:256-351,
743-748). Spark restatement on plain parquet (no Delta in this env):

* a fact table is a parquet DIRECTORY, partitioned by
  ``(tenant_id, folder_id)`` — one table per logical family instead of
  the reference's table-per-tenant×folder explosion (SURVEY.md §1.4);
* append = write new files into the partition dirs — no rewrite of
  existing data;
* evolution = appending files whose schema has MORE columns. Every
  commit that adds files records the Spark schema it wrote, and the
  log folds those schemas in commit order, so readers pass the table
  schema to the parquet reader instead of inferring it from file
  footers (Delta keeps the schema in its log for the same reason):
  old rows surface NULL for new columns — exactly the reference's
  add-only semantics (columns never dropped or retyped,
  main.py:277-291; a retype is refused at publish and raises in the
  fold). Partition columns keep the type the writer gave them. Only
  snapshots the log cannot describe (no log, or commits written
  before schemas were logged) fall back to ``mergeSchema`` inference
  of the data columns, with the partition columns read as strings;
* commit visibility: plain parquet lacks Delta's atomic log, so this
  module carries a minimal one — each append stages its files, moves
  them into the partition layout, then atomically publishes a commit
  record under ``_commits/`` listing exactly those files; readers
  resolve the file set from the log. A crash at ANY point before the
  final rename leaves the new files invisible (staged dirs and
  unlogged files are never read) — closing the partial-file window
  the reference also has (BQ insert + separate archive,
  main.py:743-752). On an object store the final rename becomes a
  conditional put; with Delta/Iceberg the whole module collapses into
  the table format's own log.
"""

from __future__ import annotations

import json as _json
import os as _os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PARTITION_COLS = ("tenant_id", "folder_id")

_COMMITS_DIR = "_commits"
_MANIFESTS_DIR = "_manifests"

# Commits whose add/remove/DV entry count exceeds this spill the lists
# into a parquet MANIFEST and keep only a pointer + counts in the
# commit JSON (VERDICT r6 #4, Iceberg's manifest indirection): a
# tenant-wide delete touching 10⁵ files publishes a ~200-byte commit
# record instead of a multi-MB JSON that every later snapshot fold
# would re-parse. Small commits stay inline — one read, no second file.
_MANIFEST_INLINE_MAX = 64


def _write_manifest(path: str, rec: dict) -> str:
    """Spill ``rec``'s file lists into ``_manifests/<uuid>.parquet``
    and strip them from the record, leaving a pointer + counts.
    Returns the manifest's relative path (also left in the record)."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    kinds, names, stats_c, bloom_c, dv_c = [], [], [], [], []
    for f in rec.get("files", []):
        kinds.append("add")
        names.append(f)
        st = rec.get("stats", {}).get(f)
        bl = rec.get("bloom", {}).get(f)
        stats_c.append(_json.dumps(st) if st is not None else None)
        bloom_c.append(_json.dumps(bl) if bl is not None else None)
        dv_c.append(None)
    for f in rec.get("remove", []):
        kinds.append("remove")
        names.append(f)
        stats_c.append(None)
        bloom_c.append(None)
        dv_c.append(None)
    for f, dvp in rec.get("dv", {}).items():
        kinds.append("dv")
        names.append(f)
        stats_c.append(None)
        bloom_c.append(None)
        dv_c.append(dvp)
    mdir = _os.path.join(path, _MANIFESTS_DIR)
    _os.makedirs(mdir, exist_ok=True)
    rel = _os.path.join(_MANIFESTS_DIR, f"manifest-{_uuid.uuid4().hex}.parquet")
    full = _os.path.join(path, rel)
    table = _pa.table(
        {
            "kind": _pa.array(kinds, _pa.string()),
            "file": _pa.array(names, _pa.string()),
            "stats": _pa.array(stats_c, _pa.string()),
            "bloom": _pa.array(bloom_c, _pa.string()),
            "dv": _pa.array(dv_c, _pa.string()),
        }
    )
    tmp = f"{full}.tmp-{_uuid.uuid4().hex}"
    _pq.write_table(table, tmp)
    _os.replace(tmp, full)
    rec["manifest"] = rel
    rec["n_add"] = len(rec.get("files", []))
    rec["n_remove"] = len(rec.get("remove", []))
    rec["n_dv"] = len(rec.get("dv", {}))
    rec["files"] = []
    rec.pop("remove", None)
    rec.pop("stats", None)
    rec.pop("bloom", None)
    rec.pop("dv", None)
    return rel


def _inflate_manifest(path: str, rec: dict) -> dict:
    """Resolve a manifest-backed commit record into the inline shape
    every reader understands (files/remove/stats/bloom/dv). Inline
    records pass through untouched."""
    rel = rec.get("manifest")
    if not rel:
        return rec
    import pyarrow.parquet as _pq

    t = _pq.read_table(_os.path.join(path, rel))
    kinds = t.column("kind").to_pylist()
    names = t.column("file").to_pylist()
    stats_c = t.column("stats").to_pylist()
    bloom_c = t.column("bloom").to_pylist()
    dv_c = t.column("dv").to_pylist()
    files: list[str] = []
    remove: list[str] = []
    stats: dict = {}
    bloom: dict = {}
    dv: dict = {}
    for k, f, st, bl, d in zip(kinds, names, stats_c, bloom_c, dv_c):
        if k == "add":
            files.append(f)
            if st is not None:
                stats[f] = _json.loads(st)
            if bl is not None:
                bloom[f] = _json.loads(bl)
        elif k == "remove":
            remove.append(f)
        elif k == "dv":
            dv[f] = d
    out = dict(rec)
    out["files"] = files
    if remove:
        out["remove"] = remove
    if stats:
        out["stats"] = stats
    if bloom:
        out["bloom"] = bloom
    if dv:
        out["dv"] = dv
    return out


def _load_commit(path: str, fn: str) -> dict:
    """Read one commit record by filename, resolving manifest
    indirection — THE reader every log consumer goes through."""
    with open(_os.path.join(path, _COMMITS_DIR, fn)) as fh:
        rec = _json.load(fh)
    return _inflate_manifest(path, rec)


def _list_parquet_files(root: str) -> list[str]:
    """Relative paths of non-hidden parquet files under ``root``."""
    out: list[str] = []
    for dirpath, dirnames, filenames in _os.walk(root):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(("_", "."))
        ]
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                out.append(
                    _os.path.relpath(_os.path.join(dirpath, fn), root)
                )
    return sorted(out)


def _commit_entries(path: str) -> list[tuple[int, str]] | None:
    """(version, filename) pairs in version order, or None if no log."""
    cdir = _os.path.join(path, _COMMITS_DIR)
    if not _os.path.isdir(cdir):
        return None
    out = []
    for fn in _os.listdir(cdir):
        if fn.startswith((".", "_")) or not fn.endswith(".json"):
            continue
        out.append((int(fn[: -len(".json")]), fn))
    return sorted(out)


# ---------------------------------------------------------------------------
# Log checkpoints (VERDICT r5 #3): snapshot state every K commits so
# readers resolve checkpoint + suffix instead of replaying every commit
# since the last compaction — Delta's _last_checkpoint mechanism.
# ---------------------------------------------------------------------------

_CHECKPOINT_EVERY = 16  # commits between checkpoints
_CHECKPOINT_KEEP = 3  # newest checkpoints retained (older versions
# re-fold from commit JSONs, which are never deleted)


def _checkpoint_name(version: int) -> str:
    return f"_checkpoint-{version:020d}.json"


def _checkpoint_versions(path: str) -> list[int]:
    import re as _re

    cdir = _os.path.join(path, _COMMITS_DIR)
    if not _os.path.isdir(cdir):
        return []
    out = []
    for fn in _os.listdir(cdir):
        m = _re.fullmatch(r"_checkpoint-(\d{20})\.json", fn)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _load_checkpoint(path: str, version: int | None = None) -> dict | None:
    """Newest readable checkpoint at or below ``version`` (None = any).
    A torn/unreadable checkpoint falls back to the next older one, and
    ultimately to a full log fold — checkpoints are an accelerator,
    never a correctness dependency."""
    cdir = _os.path.join(path, _COMMITS_DIR)
    for v in reversed(_checkpoint_versions(path)):
        if version is not None and v > version:
            continue
        try:
            with open(_os.path.join(cdir, _checkpoint_name(v))) as fh:
                cp = _json.load(fh)
        except (OSError, ValueError):
            continue
        if cp.get("version") == v:
            return cp
    return None


_EMPTY_SCHEMA = {"type": "struct", "fields": []}


def _nullable_json(dt):
    """``DataType.jsonValue()`` with every nullability flag set and
    field metadata dropped — the form the log stores. A parquet read
    makes every column nullable anyway, so two commits that differ
    only there wrote the same schema."""
    if not isinstance(dt, dict):
        return dt  # atomic type name: "string", "decimal(10,2)", …
    t = dt.get("type")
    if t == "struct":
        return {
            "type": "struct",
            "fields": [
                {
                    "name": f["name"],
                    "type": _nullable_json(f["type"]),
                    "nullable": True,
                    "metadata": {},
                }
                for f in dt["fields"]
            ],
        }
    if t == "array":
        return {
            "type": "array",
            "elementType": _nullable_json(dt["elementType"]),
            "containsNull": True,
        }
    if t == "map":
        return {
            "type": "map",
            "keyType": _nullable_json(dt["keyType"]),
            "valueType": _nullable_json(dt["valueType"]),
            "valueContainsNull": True,
        }
    return dt


def _merge_schema(cur, new, where: str = "table"):
    """Add-only union of two logged schemas: struct fields unknown to
    ``cur`` are appended in ``new``'s order (recursively for nested
    structs, arrays and maps); a column whose type changed raises
    ValueError — the table never retypes (main.py:277-291), the same
    pairs Spark's own parquet schema merge rejects."""
    if isinstance(cur, dict) and isinstance(new, dict):
        kind = cur.get("type")
        if kind == new.get("type") == "struct":
            fields = list(cur["fields"])
            at = {f["name"]: i for i, f in enumerate(fields)}
            for f in new["fields"]:
                i = at.get(f["name"])
                if i is None:
                    at[f["name"]] = len(fields)
                    fields.append(f)
                else:
                    fields[i] = {
                        **fields[i],
                        "type": _merge_schema(
                            fields[i]["type"], f["type"], f"{where}.{f['name']}"
                        ),
                    }
            return {"type": "struct", "fields": fields}
        if kind == new.get("type") == "array":
            return {
                **cur,
                "elementType": _merge_schema(
                    cur["elementType"], new["elementType"], f"{where}[]"
                ),
            }
        if kind == new.get("type") == "map":
            return {
                **cur,
                "keyType": _merge_schema(cur["keyType"], new["keyType"], f"{where}{{key}}"),
                "valueType": _merge_schema(
                    cur["valueType"], new["valueType"], f"{where}{{value}}"
                ),
            }
    if cur != new:
        raise ValueError(
            f"column {where} retyped from {_type_name(cur)} to "
            f"{_type_name(new)}; the table's columns are add-only"
        )
    return cur


def _type_name(dt) -> str:
    from pyspark.sql.types import _parse_datatype_json_value

    return _parse_datatype_json_value(dt).simpleString()


def _fold_state(path: str, version: int | None = None) -> dict | None:
    """Snapshot state as of ``version`` (default latest):
    ``{version, files, stats, bloom, txn_high, dv, schema}`` — resolved
    from the newest checkpoint at or below ``version`` plus ONLY the
    commits after it. Resolution cost is O(K + commits since
    checkpoint), not O(commits since last compaction) — the
    operational coupling the r5 verdict flagged. None when the table
    has no log.

    ``schema`` is the folded table schema (``_nullable_json`` form):
    every commit that adds files contributes the schema it wrote,
    columns are added in commit order and a retype raises ValueError.
    It is None when the log cannot describe the snapshot — some live
    generation was added by a commit that logged no schema (written
    before schemas were logged, or by a bare ``_publish_commit``) —
    until a ``base`` commit that logs one rewrites the snapshot."""
    entries = _commit_entries(path)
    if entries is None:
        return None
    cp = _load_checkpoint(path, version)
    if cp:
        files = list(cp.get("files", []))
        stats = dict(cp.get("stats", {}))
        bloom = dict(cp.get("bloom", {}))
        txn_high = dict(cp.get("txn_high", {}))
        dv = dict(cp.get("dv", {}))
        # checkpoints older than schema logging carry no key: unknown
        schema = cp.get("schema")
        floor = int(cp["version"])
    else:
        files, stats, bloom, txn_high, dv = [], {}, {}, {}, {}
        schema = _EMPTY_SCHEMA
        floor = -1
    cdir = _os.path.join(path, _COMMITS_DIR)
    last = floor
    for v, fn in entries:
        if v <= floor:
            continue
        if version is not None and v > version:
            break
        rec = _load_commit(path, fn)
        wrote = rec.get("schema")
        if rec.get("base"):
            # compaction snapshot: rewritten files carry no masked rows
            files = list(rec.get("files", []))
            stats = {}
            bloom = {}
            dv = {}
            schema = wrote or (None if files else _EMPTY_SCHEMA)
        else:
            if rec.get("files"):
                schema = _merge_schema(schema, wrote) if schema and wrote else None
            dropped = set(rec.get("remove", ()))
            if dropped:
                files = [f for f in files if f not in dropped]
                for f in dropped:
                    stats.pop(f, None)
                    bloom.pop(f, None)
                    dv.pop(f, None)
            files.extend(rec.get("files", []))
        stats.update(rec.get("stats", {}))
        bloom.update(rec.get("bloom", {}))
        # newest deletion vector per file wins (each is cumulative)
        dv.update(rec.get("dv", {}))
        t = rec.get("txn")
        if t:
            app, b = t[0], int(t[1])
            if txn_high.get(app, -1) < b:
                txn_high[app] = b
        last = v
    return {
        "version": last,
        "files": files,
        "stats": stats,
        "bloom": bloom,
        "txn_high": txn_high,
        "dv": dv,
        "schema": schema,
    }


def _write_checkpoint(path: str, version: int) -> None:
    """Best-effort checkpoint publish for ``version`` (atomic tmp +
    rename; checkpoint content is a pure function of the log up to
    ``version``, so concurrent writers producing the same file agree
    byte-for-byte semantically). Prunes checkpoints beyond the newest
    ``_CHECKPOINT_KEEP`` — time travel older than those re-folds from
    the commit JSONs, which are never deleted."""
    state = _fold_state(path, version=version)
    if state is None or state["version"] != version:
        return  # racing writer already advanced past us: its later
        # checkpoint supersedes this one
    cdir = _os.path.join(path, _COMMITS_DIR)
    tmp = _os.path.join(cdir, f".cp-tmp-{_uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            _json.dump(state, fh)
        _os.replace(tmp, _os.path.join(cdir, _checkpoint_name(version)))
    except OSError:
        try:
            _os.unlink(tmp)
        except OSError:
            pass
        return
    for old in _checkpoint_versions(path)[: -_CHECKPOINT_KEEP]:
        try:
            _os.unlink(_os.path.join(cdir, _checkpoint_name(old)))
        except OSError:
            pass


class ConcurrentWriteError(RuntimeError):
    """A racing commit invalidated this writer's read snapshot (Delta's
    ConcurrentModificationException). Raised INSTEAD of publishing a
    commit that would corrupt the table — e.g. a COW delete whose
    survivor files, computed against the pre-compaction snapshot,
    would duplicate rows the racing compaction already carries. The
    caller's remedy is to re-run against the new snapshot."""


def _publish_commit(
    path: str,
    files: list[str],
    base: bool = False,
    txn: tuple[str, int] | None = None,
    remove: list[str] | None = None,
    stats: dict[str, dict] | None = None,
    bloom: dict[str, dict] | None = None,
    dv: dict[str, str] | None = None,
    read_version: int | None = None,
    conflict_files: list[str] | None = None,
    op: str | None = None,
    schema: StructType | None = None,
) -> int:
    """Atomically add the NEXT commit record and return its version.

    ``op`` stamps the operation name (APPEND/DELETE_COW/UPDATE_MOR/…)
    into the record so DESCRIBE HISTORY reports the verb the writer
    actually ran instead of inferring it from add/remove/dv shape
    (ADVICE r6 #4: a MOR UPDATE is shaped like a MOR DELETE plus
    adds, and a COW UPDATE like a MERGE — shape is ambiguous).

    Versions are a dense sequence claimed via hard-link (link fails
    with EEXIST if a concurrent writer took the number — optimistic
    retry, Delta-style). ``base=True`` marks a snapshot commit:
    readers discard all earlier commits (compaction publishes these).
    Readers see all of a commit's files or none of them. ``txn``
    stamps the commit with a writer identity — see ``txn_seen``.
    ``remove`` lists files this commit drops from the snapshot
    (copy-on-write DELETE/MERGE — the physical files stay on disk for
    time travel until vacuum). ``stats`` maps each added file to its
    column min/max (see ``_file_stats``) and ``bloom`` to per-column
    Bloom filters (see ``_file_blooms``) for data-skipping reads.
    ``dv`` maps a LIVE data file to its deletion-vector sidecar (a
    parquet dir under ``_dv/`` of masked ``(_dv_file, _dv_idx)`` row
    positions — merge-on-read DELETE, see ``delete_rows(mode="mor")``).
    Each DV is cumulative for its file, so the newest entry per file
    supersedes earlier ones when the log folds.
    ``schema`` is the Spark schema the added files were written with
    (see ``_written_schema``); readers fold it instead of inferring the
    table schema from footers. A non-base commit whose schema retypes a
    column of the current snapshot raises ValueError and publishes
    nothing.
    """
    cdir = _os.path.join(path, _COMMITS_DIR)
    _os.makedirs(cdir, exist_ok=True)
    tmp = _os.path.join(cdir, f".tmp-{_uuid.uuid4().hex}")
    rec: dict = {"files": files, "base": base}
    if op is not None:
        rec["op"] = op
    if txn is not None:
        rec["txn"] = [txn[0], int(txn[1])]
    if remove:
        rec["remove"] = sorted(remove)
    if stats:
        rec["stats"] = stats
    if bloom:
        rec["bloom"] = bloom
    if dv:
        rec["dv"] = dv
    if schema is not None and files:
        rec["schema"] = _nullable_json(schema.jsonValue())
    manifest_rel = None
    n_entries = len(files) + len(remove or ()) + len(dv or {})
    if n_entries > _MANIFEST_INLINE_MAX:
        manifest_rel = _write_manifest(path, rec)
    with open(tmp, "w") as fh:
        _json.dump(rec, fh)
    conflict_set = set(conflict_files or ())
    published = False
    try:
        while True:
            entries = _commit_entries(path) or []
            version = (entries[-1][0] + 1) if entries else 0
            if "schema" in rec and not base:
                # refuse a retype before it is published — re-checked
                # on every claim retry, like the conflict check below
                cur = (_fold_state(path) or {}).get("schema")
                if cur:
                    _merge_schema(cur, rec["schema"])
            # Optimistic-concurrency re-validation (Delta's commit
            # protocol): before claiming a version, check the commits
            # that landed AFTER this writer's read snapshot. A base
            # (compaction) commit is a full snapshot rewrite — it
            # invalidates any pending rewrite either direction; two
            # rewrites touching the SAME files would double-apply.
            # Plain appends touch disjoint files and pass (Delta's
            # WriteSerializable level). Re-checked on every claim
            # retry, so a conflict landing mid-race is still caught.
            if read_version is not None:
                for v, fn in entries:
                    if v <= read_version:
                        continue
                    other = _load_commit(path, fn)
                    if base:
                        raise ConcurrentWriteError(
                            f"commit {v} landed after snapshot "
                            f"{read_version} was read for this base "
                            "rewrite"
                        )
                    if other.get("base"):
                        raise ConcurrentWriteError(
                            f"base commit {v} replaced the snapshot "
                            f"this rewrite read at {read_version}"
                        )
                    touched = set(other.get("remove") or ()) | set(
                        (other.get("dv") or {}).keys()
                    )
                    clash = touched & conflict_set
                    if clash:
                        raise ConcurrentWriteError(
                            f"commit {v} already rewrote/masked "
                            f"{sorted(clash)[:3]}…"
                        )
            target = _os.path.join(cdir, f"{version:020d}.json")
            try:
                _os.link(tmp, target)
                published = True
                if (version + 1) % _CHECKPOINT_EVERY == 0:
                    _write_checkpoint(path, version)
                return version
            except FileExistsError:
                continue  # lost the race — claim the next number
    finally:
        _os.unlink(tmp)
        if manifest_rel and not published:
            # a commit that never published (OCC conflict) must not
            # leave its manifest behind
            try:
                _os.unlink(_os.path.join(path, manifest_rel))
            except OSError:
                pass


def txn_seen(path: str, app_id: str, batch_id: int) -> bool:
    """True if the log already holds a commit from ``app_id`` at or
    past ``batch_id`` — the idempotence check behind exactly-once
    streaming sinks (Delta's ``txnVersion``: batch ids from a
    checkpointed stream are monotonic per app, so "`<=` the high
    watermark" IS "already committed"). A replayed micro-batch (crash
    between sink commit and checkpoint advance) sees its own earlier
    commit and publishes nothing.

    Commit records are never deleted (vacuum removes only data files)
    and checkpoints carry the folded per-app watermark, so the marker
    survives both compaction and checkpoint pruning, and the check
    reads O(commits since last checkpoint) JSONs, not the whole log.
    """
    state = _fold_state(path)
    if state is None:
        return False
    return int(batch_id) <= state["txn_high"].get(app_id, -1)


def table_version(path: str) -> int | None:
    """Latest commit version, or None for an unlogged/empty table."""
    entries = _commit_entries(path)
    if not entries:
        return None
    return entries[-1][0]


def _commit_timestamps(path: str) -> list[tuple[int, float]] | None:
    """(version, timestamp) pairs in version order, monotonically
    adjusted. The timestamp is the commit file's mtime (the hard-link
    publish shares the tmp file's inode, so mtime is the moment the
    record was written — Delta resolves TIMESTAMP AS OF from commit
    file modification times the same way). Racing writers can publish
    versions whose raw mtimes are microseconds out of order; like
    Delta, each timestamp is clamped to be >= its predecessor so the
    version→time mapping is a total order."""
    entries = _commit_entries(path)
    if entries is None:
        return None
    cdir = _os.path.join(path, _COMMITS_DIR)
    out: list[tuple[int, float]] = []
    prev = float("-inf")
    for v, fn in entries:
        try:
            ts = _os.path.getmtime(_os.path.join(cdir, fn))
        except OSError:
            ts = prev  # racing vacuum of the dir entry: inherit
        prev = max(prev, ts)
        out.append((v, prev))
    return out


def version_at(path: str, ts: float) -> int:
    """Resolve TIMESTAMP AS OF: the newest version whose commit
    timestamp is <= ``ts`` (unix seconds). Raises ValueError when
    ``ts`` predates the first commit (the table did not exist yet) or
    the table has no log — same contract as Delta's timestamp travel.
    A ``ts`` past the newest commit resolves to the latest version."""
    stamps = _commit_timestamps(path)
    if not stamps:
        raise ValueError(f"no commit log at {path}")
    if ts < stamps[0][1]:
        raise ValueError(
            f"timestamp {ts} predates the first commit ({stamps[0][1]})"
        )
    out = stamps[0][0]
    for v, t in stamps:
        if t <= ts:
            out = v
        else:
            break
    return out


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one record per commit, newest first —
    version, (monotonic) timestamp, operation kind, files added and
    removed, deletion-vector count, and the streaming txn stamp when
    present. Reads each commit JSON once; commit records are never
    deleted (vacuum removes only data files), so history is complete
    even past compaction."""
    stamps = _commit_timestamps(path)
    if stamps is None:
        return []
    entries = dict(_commit_entries(path) or [])
    cdir = _os.path.join(path, _COMMITS_DIR)
    out = []
    for v, ts in stamps:
        with open(_os.path.join(cdir, entries[v])) as fh:
            rec = _json.load(fh)
        if rec.get("manifest"):
            # lazy: counts ride the commit JSON; the manifest parquet
            # is only read by consumers that need the file NAMES
            n_add = int(rec.get("n_add", 0))
            n_remove = int(rec.get("n_remove", 0))
            n_dv = int(rec.get("n_dv", 0))
        else:
            n_add = len(rec.get("files", []))
            n_remove = len(rec.get("remove", []))
            n_dv = len(rec.get("dv", {}))
        if rec.get("op"):
            # explicit verb stamped at publish time (ADVICE r6 #4);
            # the shape inference below remains only for commits
            # written by older engine versions
            op = rec["op"]
        elif rec.get("base"):
            op = "COMPACT" if v else "CREATE"
        elif n_dv:
            op = "DELETE_MOR"
        elif n_remove:
            op = "DELETE_COW" if n_add == 0 else "MERGE"
        else:
            op = "APPEND"
        out.append(
            {
                "version": v,
                "timestamp": ts,
                "operation": op,
                "n_added": n_add,
                "n_removed": n_remove,
                "n_dv": n_dv,
                "txn": tuple(rec["txn"]) if rec.get("txn") else None,
            }
        )
    out.reverse()
    return out


def committed_files(path: str, version: int | None = None) -> list[str] | None:
    """Relative data-file paths named by the commit log — the table
    snapshot as of ``version`` (default: latest) — or None when the
    table has no log (legacy directory-listing table). A ``base``
    commit resets the file set (compaction snapshot); a ``remove``
    list drops files from the snapshot (copy-on-write DELETE/MERGE)."""
    state = _fold_state(path, version=version)
    return None if state is None else state["files"]


def _committed_index(
    path: str, key: str, version: int | None = None
) -> dict[str, dict]:
    """Per-file index (``stats`` or ``bloom``) for the snapshot at
    ``version``, restricted to live files — one checkpoint + suffix
    fold, shared with ``committed_files``."""
    state = _fold_state(path, version=version)
    if state is None:
        return {}
    live = set(state["files"])
    return {f: s for f, s in state[key].items() if f in live}


def committed_file_blooms(
    path: str, version: int | None = None
) -> dict[str, dict]:
    """Per-file per-column Bloom filters for the snapshot at
    ``version`` — the point-lookup skipping index (see
    ``set_bloom_columns``)."""
    return _committed_index(path, "bloom", version=version)


def committed_dv(path: str, version: int | None = None) -> dict[str, str]:
    """Live-file → deletion-vector sidecar map for the snapshot at
    ``version`` (merge-on-read deletes; see ``delete_rows``). Empty
    for tables with no masked rows — the common case, in which reads
    take the plain scan path with zero DV overhead."""
    return _committed_index(path, "dv", version=version)


def _norm_stat(v):
    """JSON-storable, order-preserving normal form for a parquet
    min/max value. None ⇒ the value can't participate in pruning
    (readers keep the file)."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None  # booleans: not worth a skipping index
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()  # ISO-8601 sorts lexicographically
    return None


def _file_stats(full_path: str) -> dict[str, list]:
    """``{column: [min, max]}`` from the parquet footer — the
    file-level skipping index every table format carries (Delta
    ``stats``, Iceberg manifests). Folded across row groups; a column
    missing stats in ANY row group is omitted (no false pruning).
    Nested fields are skipped; NULLs don't bound min/max, so an
    all-null column is simply absent (file always kept)."""
    try:
        import pyarrow.parquet as _pq

        md = _pq.ParquetFile(full_path).metadata
    except Exception:  # noqa: BLE001 — unreadable footer: no index
        return {}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue
            st = col.statistics
            lo = _norm_stat(st.min) if st is not None and st.has_min_max else None
            hi = _norm_stat(st.max) if st is not None and st.has_min_max else None
            if lo is None or hi is None:
                bad.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {c: [mins[c], maxs[c]] for c in mins}


def _stats_for(path: str, files: list[str]) -> dict[str, dict]:
    return {f: _file_stats(_os.path.join(path, f)) for f in files}


_PROPS_FILE = "_props.json"
_BLOOM_K = 7  # ~1% FPR at 10 bits/key
_BLOOM_BITS_PER_KEY = 10
_BLOOM_MAX_BITS = 1 << 20  # 128 KiB cap per column per file


def table_properties(path: str) -> dict:
    """Durable table-level properties (Delta's TBLPROPERTIES)."""
    try:
        with open(_os.path.join(path, _PROPS_FILE)) as fh:
            return _json.load(fh)
    except (OSError, ValueError):
        return {}


def set_table_property(path: str, key: str, value) -> None:
    """Atomically upsert one table property."""
    _os.makedirs(path, exist_ok=True)
    props = table_properties(path)
    props[key] = value
    tmp = _os.path.join(path, f".{_PROPS_FILE}.{_uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        _json.dump(props, fh)
    _os.replace(tmp, _os.path.join(path, _PROPS_FILE))


def set_bloom_columns(path: str, cols: list[str]) -> None:
    """Declare the columns every FUTURE commit indexes with a per-file
    Bloom filter (Delta's ``delta.bloomFilter.*`` per-column property).
    Min/max stats prune range queries over clustered data but are
    useless for point lookups on high-cardinality keys whose ranges
    overlap across files (a uuid ``row_id`` spans the whole keyspace
    in every file). A Bloom filter answers "might this file contain
    key = v?" with no false negatives, so an equality probe on a
    100 TB table touches ~1 file instead of all of them. Existing
    files are back-filled lazily by rewrites (compaction/merge)."""
    set_table_property(path, "bloom_cols", sorted(set(cols)))


def _bloom_key(v) -> bytes | None:
    """Canonical byte key for a bloom member/probe — MUST normalize
    identically on the write and query side, else a probe could miss
    a present key and wrongly prune (integral floats fold to int so
    ``100`` and ``100.0`` agree). None ⇒ value can't participate."""
    v = _norm_stat(v)
    if v is None:
        return None
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    return repr(v).encode()


def _bloom_positions(key: bytes, m: int, k: int) -> list[int]:
    import hashlib as _hashlib

    d = _hashlib.blake2b(key, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_blooms(full_path: str, cols: list[str]) -> dict[str, dict]:
    """``{column: {m, k, b64}}`` Bloom filters over the file's values
    for the declared columns. Sized at ~10 bits per distinct key
    (≈1% false positives); a column whose values can't be canonically
    keyed is skipped (file never pruned on it). Real formats store
    these in sidecar index files, not the log — same information."""
    import base64 as _base64

    try:
        import pyarrow.parquet as _pq

        pf = _pq.ParquetFile(full_path)
        want = [c for c in cols if c in pf.schema_arrow.names]
        if not want:
            return {}
        tbl = pf.read(columns=want)
    except Exception:  # noqa: BLE001 — unreadable file: no index
        return {}
    out: dict[str, dict] = {}
    for c in want:
        keys: set[bytes] = set()
        for v in tbl.column(c).to_pylist():
            if v is None:
                continue
            kb = _bloom_key(v)
            if kb is None:
                keys = set()
                break
            keys.add(kb)
        if not keys:
            continue
        m = min(_BLOOM_MAX_BITS, max(64, _BLOOM_BITS_PER_KEY * len(keys)))
        bits = bytearray((m + 7) // 8)
        for kb in keys:
            for pos in _bloom_positions(kb, m, _BLOOM_K):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[c] = {
            "m": m,
            "k": _BLOOM_K,
            "b64": _base64.b64encode(bytes(bits)).decode(),
        }
    return out


def _blooms_for(path: str, files: list[str]) -> dict[str, dict]:
    cols = table_properties(path).get("bloom_cols") or []
    if not cols:
        return {}
    out = {}
    for f in files:
        bf = _file_blooms(_os.path.join(path, f), cols)
        if bf:
            out[f] = bf
    return out


def _bloom_may_match(blooms: dict[str, dict], predicates) -> bool:
    """False only when a Bloom filter PROVES an equality predicate's
    key is absent from the file. Non-equality ops, unindexed columns,
    and un-keyable values always pass."""
    import base64 as _base64

    for col, op, val in predicates:
        if op != "==" or col not in blooms:
            continue
        kb = _bloom_key(val)
        if kb is None:
            continue
        bf = blooms[col]
        bits = _base64.b64decode(bf["b64"])
        if not all(
            bits[p >> 3] & (1 << (p & 7))
            for p in _bloom_positions(kb, bf["m"], bf["k"])
        ):
            return False
    return True


def _may_match(stats: dict[str, list], predicates) -> bool:
    """False only when the file's min/max PROVE no row satisfies every
    predicate (conjunction). Missing stats / incomparable types ⇒
    True. Predicates: ``(column, op, value)`` with op in
    ``== >= > <= <``; NULL never matches any of these ops (SQL), so
    min/max (which ignore nulls) are sound bounds."""
    for col, op, val in predicates:
        s = stats.get(col)
        if s is None:
            continue
        lo, hi = s
        val = _norm_stat(val) if not isinstance(val, (int, float, str)) else val
        if val is None:
            continue
        try:
            if op == "==" and (val < lo or val > hi):
                return False
            if op == ">=" and hi < val:
                return False
            if op == ">" and hi <= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == "<" and lo >= val:
                return False
        except TypeError:
            continue  # cross-type compare: can't prove, keep the file
    return True


def pruned_files(
    path: str, predicates, version: int | None = None
) -> list[str] | None:
    """Snapshot file list after data skipping: drop every file whose
    stats prove it can't contain a matching row. The pruning is
    advisory-safe — the caller still applies the real filter; skipping
    only removes scan work, never changes results."""
    state = _fold_state(path, version=version)
    if state is None:
        return None
    stats, blooms = state["stats"], state["bloom"]
    return [
        f
        for f in state["files"]
        if _may_match(stats.get(f, {}), predicates)
        and _bloom_may_match(blooms.get(f, {}), predicates)
    ]


def create_fact_table(
    spark: SparkSession, path: str, schema: StructType
) -> None:
    """S4: declare a typed table (the reference's typed create,
    main.py:293-314). On plain parquet there is no metastore to hold
    an empty table's schema, and writing schema-bearing files at the
    table ROOT would conflict with the partitioned layout the appends
    use (`tenant_id=/folder_id=` directories) — so the physical table
    materializes on first append, and this declares the schema as a
    sidecar the readers can consult before data exists. With a real
    table format (Delta/Iceberg/metastore) this becomes CREATE TABLE.
    """
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "_schema.json"), "w") as fh:
        _json.dump(schema.jsonValue(), fh)


def append_rows(
    df: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    cluster_by: list[str] | None = None,
) -> bool:
    """S3: atomic append of typed rows. Partitioned by
    (tenant_id, folder_id) when present so reads prune partitions
    instead of string-building table names (main.py:262-264 →
    partition pruning).

    Protocol: write to a hidden staging dir (one per append), move the
    data files into their final partition dirs under commit-unique
    names, then publish one commit record naming them. Readers resolve
    files from the log, so a crash mid-append publishes nothing.

    ``txn=(app_id, batch_id)`` makes the append idempotent: if the log
    already holds that transaction the call is a no-op (returns
    False). This is what turns a checkpointed ``foreachBatch`` stream
    into an exactly-once sink — replays re-run the batch but cannot
    commit it twice. Returns True when rows were published.

    ``cluster_by`` range-repartitions the batch on the given columns
    (keeping the incoming partition count) and sorts within each task,
    so each output file covers a disjoint narrow key range and its
    min/max stats (recorded in the commit) let ``pruned_files`` skip
    files on high-cardinality predicates — the Delta/Iceberg
    Z-ORDER-lite write path. A single-partition batch still yields one
    full-range file; within-batch skipping needs >1 partition, and
    cross-batch clustering is ``compact_fact_table(cluster_by=…)``.
    """
    if txn is not None and txn_seen(path, txn[0], txn[1]):
        return False
    _bootstrap_log(path)
    _enforce_constraints(df, path)
    if cluster_by:
        n = max(df.rdd.getNumPartitions(), 1)
        df = df.repartitionByRange(
            n, *[F.col(c) for c in cluster_by]
        ).sortWithinPartitions(*cluster_by)
    moved = _stage_files(df, path)
    _publish_commit(
        path,
        moved,
        txn=txn,
        stats=_stats_for(path, moved),
        bloom=_blooms_for(path, moved),
        op="APPEND",
        schema=_written_schema(df, path),
    )
    return True


def _bootstrap_log(path: str) -> None:
    """A legacy table (files but no log) gets its existing files
    recorded first so they stay visible under log-based reads."""
    existing = _list_parquet_files(path)
    if existing and committed_files(path) is None:
        _publish_commit(
            path, existing, stats=_stats_for(path, existing), op="CREATE"
        )


def _cow_survivors(cur: DataFrame, hit_files: DataFrame) -> DataFrame:
    """Rows of the files being rewritten, selected by a broadcast
    LEFT SEMI join on ``_src_file`` — never by an ``isin`` literal.
    A tenant-wide delete on a 100 TB table can touch 10⁵+ files; a
    literal file-list predicate that size bloats the plan (serialized
    to every task, linear-scanned per row) where a broadcast hash
    semi-join stays O(1) per probe and constant plan size (VERDICT r5
    "what's wrong" #1)."""
    return cur.join(F.broadcast(hit_files), "_src_file", "left_semi")


def _key_bounds(source: DataFrame, keys: list[str]) -> list[tuple]:
    """Sound skipping bounds derived from the source batch itself:
    per-key min/max (one tiny agg over the batch). A table file whose
    stats don't overlap the source's key range provably contains no
    matching key, so pruning with these bounds can never miss a hit —
    no caller contract needed. Keys whose values can't bound (all
    NULL / unorderable) contribute nothing."""
    row = source.agg(
        *[F.min(k).alias(f"_lo_{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"_hi_{i}") for i, k in enumerate(keys)],
    ).collect()[0]
    bounds: list[tuple] = []
    for i, k in enumerate(keys):
        lo, hi = row[f"_lo_{i}"], row[f"_hi_{i}"]
        if lo is not None and hi is not None:
            bounds += [(k, ">=", lo), (k, "<=", hi)]
    return bounds


def _file_row_counts(
    spark: SparkSession, path: str, files: list[str]
) -> dict[str, int]:
    """Physical row count per data file, from parquet FOOTERS only
    (no data scan). Small lists read on the driver; large lists fan
    out as one footer-read task per executor slot — O(affected files)
    either way, the same order as the commit record being written."""
    root = _os.path.abspath(path)

    def _counts(rels):
        import pyarrow.parquet as _pq

        for rel in rels:
            yield rel, _pq.ParquetFile(
                _os.path.join(root, rel)
            ).metadata.num_rows

    if len(files) <= 256:
        return dict(_counts(files))
    rdd = spark.sparkContext.parallelize(
        list(files), max(1, min(len(files) // 64, 1024))
    )
    return dict(rdd.mapPartitions(lambda it: list(_counts(it))).collect())


def _retire_or_write_dv(
    spark: SparkSession,
    path: str,
    hits: DataFrame,
    affected: list[str],
) -> tuple[dict[str, str], list[str]]:
    """Deletion-vector bookkeeping for one MOR commit. Builds each
    affected file's CUMULATIVE mask (new hits ∪ its existing DV —
    the newest sidecar per file supersedes), then splits the
    affected set:

    * files whose every physical row is now masked are RETIRED from
      the snapshot outright (returned as the commit's remove list) —
      no rewrite, no sidecar entry, and no zombie metadata: without
      this, a file fully emptied by MOR deletes would carry a
      100%-masked DV forever and never be vacuumable;
    * the rest get one shared sidecar written under ``_dv/``.

    Returns ``(dv_entries, retired_files)``. Distributed throughout —
    the driver holds only O(affected-files) name lists, which the
    commit record carries anyway."""
    dvmap = committed_dv(path)
    carry = sorted({dvmap[f] for f in affected if f in dvmap})
    aff = spark.createDataFrame([(f,) for f in affected], "_dv_file string")
    new_dv = hits
    if carry:
        old = (
            spark.read.parquet(*[_os.path.join(path, d) for d in carry])
            .select("_dv_file", "_dv_idx")
            .join(F.broadcast(aff), "_dv_file", "left_semi")
        )
        new_dv = new_dv.unionByName(old)
    new_dv = new_dv.cache()
    try:
        masked = {
            r["_dv_file"]: r["_m"]
            for r in new_dv.groupBy("_dv_file")
            .agg(F.count(F.lit(1)).alias("_m"))
            .collect()
        }
        totals = _file_row_counts(spark, path, affected)
        retired = sorted(
            f for f in affected if masked.get(f, 0) >= totals.get(f, 1 << 62)
        )
        live_aff = [f for f in affected if f not in set(retired)]
        dv_entries: dict[str, str] = {}
        if live_aff:
            keep = new_dv
            if retired:
                ret = spark.createDataFrame(
                    [(f,) for f in retired], "_dv_file string"
                )
                keep = new_dv.join(F.broadcast(ret), "_dv_file", "left_anti")
            dv_rel = _os.path.join(_DV_DIR, f"dv-{_uuid.uuid4().hex}")
            keep.write.parquet(_os.path.join(path, dv_rel))
            dv_entries = {f: dv_rel for f in live_aff}
        return dv_entries, retired
    finally:
        new_dv.unpersist()


def delete_rows(
    spark: SparkSession,
    path: str,
    condition: str,
    prune: list[tuple[str, str, object]] | None = None,
    mode: str = "cow",
) -> int:
    """DELETE FROM ... WHERE, in either physical strategy a real
    table format offers (Delta: COW vs deletion vectors; Iceberg:
    COW vs positional MOR deletes). Rows where ``condition`` is NULL
    are kept (SQL DELETE semantics); readers never see a
    half-deleted state; earlier versions stay time-travel-readable
    until vacuum. Returns the number of rows deleted.

    ``mode="cow"`` (copy-on-write): rewrite ONLY the files holding
    matching rows — with those rows filtered out — and publish one
    commit that atomically swaps old files for new. Cost scales with
    the DATA VOLUME of affected files. Right when deletes are dense
    or reads vastly outnumber deletes.

    ``mode="mor"`` (merge-on-read deletion vectors): rewrite NOTHING
    — record the matching rows' physical positions in a ``_dv/``
    sidecar and publish a commit mapping each affected file to it.
    Cost scales with the MATCHED ROW COUNT, so a 3-row GDPR delete
    against a 100 TB table touching 10⁵ wide files writes a few KB
    instead of re-writing terabytes. Readers anti-join the positions
    out (broadcast when small); ``compact_fact_table`` later applies
    the masks physically and resets the DV map (its base commit).
    Per-file stats/blooms are left as-written — they stay sound for
    skipping (a masked row can only make pruning conservative, never
    wrong).

    The hit set stays a DataFrame end-to-end: one aggregation yields
    per-file match counts (cached — reused as the rewrite semi-join
    build side / the DV sink), and the only driver materialization is
    the file-name list the commit RECORD itself must carry,
    O(affected files).

    ``prune`` lets the caller bound the identification scan with
    ``(column, op, value)`` stats-skipping hints — sound ONLY when
    implied by ``condition`` (e.g. condition ``tenant_id = 'u1' AND
    day >= '2026-01-01'`` → prune on those same bounds). A tenant
    -scoped GDPR delete then scans the tenant's files, not 100 TB.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown delete mode {mode!r}")
    _bootstrap_log(path)
    read_version = table_version(path)  # OCC read snapshot
    cond = F.expr(condition)
    cur = _read_snapshot(spark, path, prune=prune, with_pos=True)
    hits = (
        cur.filter(cond)
        .select(
            F.col("_src_file").alias("_dv_file"),
            F.col("_row_idx").alias("_dv_idx"),
        )
        .cache()  # identification scan runs once: reused by the count
        # aggregation AND the DV sink / rewrite build side
    )
    per_file = hits.groupBy("_dv_file").agg(F.count(F.lit(1)).alias("_n"))
    try:
        hit_rows = per_file.collect()  # == the commit's file list
        if not hit_rows:
            return 0
        n_deleted = int(sum(r["_n"] for r in hit_rows))
        affected = [r["_dv_file"] for r in hit_rows]
        if mode == "mor":
            dv_entries, retired = _retire_or_write_dv(
                spark, path, hits, affected
            )
            _publish_commit(
                path, [], dv=dv_entries or None, remove=retired or None,
                read_version=read_version, conflict_files=affected,
                op="DELETE_MOR",
            )
            return n_deleted
        survivors = (
            _cow_survivors(
                cur,
                per_file.select(F.col("_dv_file").alias("_src_file")),
            )
            .filter(~F.coalesce(cond, F.lit(False)))
            .drop("_src_file", "_row_idx")
        )
        staged = _stage_files(survivors, path)
        _publish_commit(
            path,
            staged,
            remove=affected,
            stats=_stats_for(path, staged),
            bloom=_blooms_for(path, staged),
            read_version=read_version,
            conflict_files=affected,
            op="DELETE_COW",
            schema=_written_schema(survivors, path),
        )
        return n_deleted
    finally:
        hits.unpersist()


def update_rows(
    spark: SparkSession,
    path: str,
    condition: str,
    set: dict[str, str],
    prune: list[tuple[str, str, object]] | None = None,
    mode: str = "cow",
) -> int:
    """UPDATE ... SET ... WHERE — the remaining DML verb next to
    DELETE (``delete_rows``) and MERGE (``merge_rows``). ``set`` maps
    existing columns to SQL expressions evaluated in row scope
    (``{"amount": "amount * 2"}``); rows where ``condition`` is NULL
    are untouched (SQL semantics); declared CHECK/NOT NULL constraints
    are enforced on the rewritten rows BEFORE anything stages, so a
    violating update publishes nothing. UPDATE cannot add columns
    (Delta's contract — use ``evolve_columns`` + UPDATE). Returns the
    number of rows updated.

    ``mode="cow"``: rewrite only the files holding matching rows, with
    the SET applied to matches and other rows copied through — one
    add+remove commit, cost ∝ affected file bytes.

    ``mode="mor"``: rewrite nothing — mask the matched positions via a
    deletion-vector sidecar and stage ONLY the transformed matched
    rows as new files in the same commit (Delta's DV-based UPDATE):
    cost ∝ matched rows, the right strategy for sparse updates on a
    100 TB table. Compaction later applies masks physically.

    ``prune`` bounds the identification scan with stats-skipping
    hints, sound only when implied by ``condition`` (same contract as
    ``delete_rows``)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown update mode {mode!r}")
    _bootstrap_log(path)
    read_version = table_version(path)  # OCC read snapshot
    cond = F.expr(condition)
    matched_pred = F.coalesce(cond, F.lit(False))
    cur = _read_snapshot(spark, path, prune=prune, with_pos=True)
    unknown = [c for c in set if c not in cur.columns]
    if unknown:
        raise ValueError(f"UPDATE SET on unknown columns: {unknown}")

    def _apply_set(df: DataFrame, always: bool) -> DataFrame:
        cols = []
        for c in df.columns:
            if c in ("_src_file", "_row_idx"):
                continue
            if c in set:
                new = F.expr(set[c]).cast(df.schema[c].dataType)
                cols.append(
                    (new if always else F.when(matched_pred, new)
                     .otherwise(F.col(c))).alias(c)
                )
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    hits = (
        cur.filter(cond)
        .select(
            "*",
            F.col("_src_file").alias("_dv_file"),
            F.col("_row_idx").alias("_dv_idx"),
        )
        .cache()
    )
    per_file = hits.groupBy("_dv_file").agg(F.count(F.lit(1)).alias("_n"))
    try:
        hit_rows = per_file.collect()  # == the commit's file list
        if not hit_rows:
            return 0
        n_updated = int(sum(r["_n"] for r in hit_rows))
        affected = [r["_dv_file"] for r in hit_rows]
        if mode == "mor":
            updated = _apply_set(
                hits.drop("_dv_file", "_dv_idx"), always=True
            )
            _enforce_constraints(updated, path)
            dv_entries, retired = _retire_or_write_dv(
                spark, path, hits.select("_dv_file", "_dv_idx"), affected
            )
            staged = _stage_files(updated, path)
            _publish_commit(
                path,
                staged,
                dv=dv_entries or None,
                remove=retired or None,
                stats=_stats_for(path, staged),
                bloom=_blooms_for(path, staged),
                read_version=read_version,
                conflict_files=affected,
                op="UPDATE_MOR",
                schema=_written_schema(updated, path),
            )
            return n_updated
        rewritten = _apply_set(
            _cow_survivors(
                cur, per_file.select(F.col("_dv_file").alias("_src_file"))
            ),
            always=False,
        )
        _enforce_constraints(rewritten, path)
        staged = _stage_files(rewritten, path)
        _publish_commit(
            path,
            staged,
            remove=affected,
            stats=_stats_for(path, staged),
            bloom=_blooms_for(path, staged),
            read_version=read_version,
            conflict_files=affected,
            op="UPDATE_COW",
            schema=_written_schema(rewritten, path),
        )
        return n_updated
    finally:
        hits.unpersist()


def merge_rows(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    mode: str = "cow",
) -> int:
    """MERGE (upsert): every table row whose ``keys`` match a source
    row is replaced by that source row; source rows with unseen keys
    are inserted. The swap is one atomic commit. New source columns
    evolve the schema add-only (older rows read NULL), matching the
    table's append evolution. The reference's re-train → re-extract
    flow (main.py:497-503 + re-ingest) silently double-inserts on
    BigQuery; an upsert keyed on (tenant_id, folder_id, rel_path) is
    the correct replay semantics at scale. ``source`` must be
    key-unique (standard MERGE precondition — enforced here because a
    violating merge would corrupt the table nondeterministically).
    Returns the published table version.

    ``mode="cow"`` rewrites only the files containing matched keys
    (add + remove in one commit). ``mode="mor"`` rewrites nothing:
    matched rows are masked via a deletion-vector sidecar and the
    source lands as new files in the SAME commit — cost scales with
    matched-row count + source size, the right strategy when a small
    re-extract batch touches keys scattered across many large files.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r}")
    _bootstrap_log(path)
    read_version = table_version(path)  # OCC read snapshot
    _enforce_constraints(source, path)
    dup = source.groupBy(*keys).count().filter(F.col("count") > 1)
    if dup.limit(1).count():
        raise ValueError(f"merge source has duplicate keys on {keys}")
    if not (committed_files(path) or []):
        staged = _stage_files(source, path)
        return _publish_commit(
            path,
            staged,
            stats=_stats_for(path, staged),
            bloom=_blooms_for(path, staged),
            op="MERGE",
            schema=_written_schema(source, path),
        )
    # identification scan pruned by the source's own key range —
    # derived bounds, so it can never miss a matching file (see
    # _key_bounds); an incremental upsert whose keys land in one
    # partition's range reads those files, not the whole table
    cur = _read_snapshot(
        spark, path, prune=_key_bounds(source, keys) or None, with_pos=True
    )
    kd = source.select(*keys).distinct()
    if mode == "mor":
        matched = (
            cur.join(kd, keys, "left_semi")
            .select(
                F.col("_src_file").alias("_dv_file"),
                F.col("_row_idx").alias("_dv_idx"),
            )
            .cache()
        )
        try:
            affected = [
                r["_dv_file"]
                for r in matched.select("_dv_file").distinct().collect()
            ]
            dv_entries, retired = (
                _retire_or_write_dv(spark, path, matched, affected)
                if affected
                else ({}, [])
            )
            staged = _stage_files(source, path)
            return _publish_commit(
                path,
                staged,
                dv=dv_entries or None,
                remove=retired or None,
                stats=_stats_for(path, staged),
                bloom=_blooms_for(path, staged),
                read_version=read_version,
                conflict_files=affected,
                op="MERGE_MOR",
                schema=_written_schema(source, path),
            )
        finally:
            matched.unpersist()
    hit_files = (
        cur.join(kd, keys, "left_semi").select("_src_file").distinct().cache()
    )
    try:
        # only driver materialization: the commit record's remove list
        hits = [r["_src_file"] for r in hit_files.collect()]
        survivors = None
        if hits:
            survivors = (
                _cow_survivors(cur, hit_files)
                .join(kd, keys, "left_anti")
                .drop("_src_file", "_row_idx")
            )
        out = (
            source
            if survivors is None
            else survivors.unionByName(source, allowMissingColumns=True)
        )
        staged = _stage_files(out, path)
        return _publish_commit(
            path,
            staged,
            remove=hits,
            stats=_stats_for(path, staged),
            bloom=_blooms_for(path, staged),
            read_version=read_version,
            conflict_files=hits,
            op="MERGE_COW",
            schema=_written_schema(out, path),
        )
    finally:
        hit_files.unpersist()


def read_changes(
    spark: SparkSession, path: str, since_version: int
) -> DataFrame:
    """Change feed (Delta CDF-lite): the rows ADDED by every commit
    after ``since_version``, tagged ``_commit_version`` — what an
    incremental downstream pipeline (tokenize-only-new-docs) consumes
    instead of re-scanning 100 TB. ``base`` commits are skipped
    (compaction rewrites, it doesn't change rows). Honest limits: a
    merge/delete commit's added files carry post-image rows including
    rewritten survivors (no pre-images / per-row change types — that
    needs a real format's row tracking), and the feed for a version
    range is readable until vacuum reclaims a removed file in it."""
    entries = _commit_entries(path) or []
    # columns are add-only: the latest schema reads every generation
    schema = _logged_schema(_fold_state(path))
    parts = []
    for v, fn in entries:
        if v <= since_version:
            continue
        rec = _load_commit(path, fn)
        if rec.get("base") or not rec.get("files"):
            continue
        parts.append(
            _scan(spark, path, schema, rec["files"]).withColumn(
                "_commit_version", F.lit(v)
            )
        )
    if not parts:
        return (
            read_fact_table(spark, path)
            .withColumn("_commit_version", F.lit(0))
            .limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def set_partition_spec(
    path: str, cols: list[str], generated: dict[str, str] | None = None
) -> None:
    """Declare the table's physical partition layout, replacing the
    default ``(tenant_id, folder_id)`` — Delta's PARTITIONED BY with
    generated columns. ``generated`` maps a partition column to a SQL
    expression over the row (e.g. ``{"event_date": "to_date(ts)"}``):
    the write path computes it when the batch doesn't carry it, and
    REJECTS a batch that carries a contradicting value (a generated
    column is a table invariant, same posture as CHECK constraints).

    Must be declared before the first data commit — a partition
    layout is immutable once files exist under it (re-laying out is
    what ``compact_fact_table`` is for). At 100 TB this is THE scan
    lever: date-partitioning an event table turns a time-range query
    into a directory listing, before stats or blooms even run."""
    for _v, fn in _commit_entries(path) or []:
        with open(_os.path.join(path, _COMMITS_DIR, fn)) as fh:
            rec = _json.load(fh)
        if rec.get("files") or rec.get("n_add"):
            raise ValueError(
                "partition spec must be declared before data exists"
            )
    set_table_property(
        path, "partition_spec", {"cols": list(cols), "generated": generated or {}}
    )


def _apply_partition_spec(df: DataFrame, path: str) -> tuple[DataFrame, list[str]]:
    """Resolve the table's partition layout for a write: compute
    missing generated columns, validate present ones (one map-only
    detection job, short-circuited at the first violation), and
    return the partition column list."""
    spec = table_properties(path).get("partition_spec")
    if not spec:
        cols = [c for c in PARTITION_COLS if c in df.columns]
        return df, (cols if len(cols) == len(PARTITION_COLS) else [])
    for c, expr in (spec.get("generated") or {}).items():
        if c in df.columns:
            bad = df.filter(~F.col(c).eqNullSafe(F.expr(expr))).limit(1)
            if bad.count():
                raise ValueError(
                    f"generated column {c} contradicts its expression "
                    f"({expr}) in the incoming batch"
                )
        else:
            df = df.withColumn(c, F.expr(expr))
    return df, [c for c in spec.get("cols", []) if c in df.columns]


def _written_schema(df: DataFrame, path: str) -> StructType:
    """The schema ``_stage_files(df, path)`` writes: ``df``'s columns
    plus the generated partition columns it computes (analysis only —
    no Spark job). Its commit logs this for readers."""
    spec = table_properties(path).get("partition_spec") or {}
    for c, expr in (spec.get("generated") or {}).items():
        if c not in df.columns:
            df = df.withColumn(c, F.expr(expr))
    return df.schema


def _stage_files(df: DataFrame, path: str) -> list[str]:
    """Write ``df`` into the table's partition layout via a hidden
    staging dir; returns the relative paths of the moved data files
    (NOT yet published — the caller decides the commit record)."""
    commit_tag = _uuid.uuid4().hex[:12]
    staging = _os.path.join(path, f"_staging-{commit_tag}")
    df, part_cols = _apply_partition_spec(df, path)
    writer = df.write.mode("overwrite").format("parquet")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.save(staging)
    moved: list[str] = []
    for rel in _list_parquet_files(staging):
        dst_rel = _os.path.join(
            _os.path.dirname(rel), f"c{commit_tag}-{_os.path.basename(rel)}"
        )
        dst = _os.path.join(path, dst_rel)
        _os.makedirs(_os.path.dirname(dst), exist_ok=True)
        _os.replace(_os.path.join(staging, rel), dst)
        moved.append(dst_rel)

    import shutil as _shutil

    _shutil.rmtree(staging, ignore_errors=True)
    return moved


_ZORDER_BITS = 6  # 64 rank buckets per dimension


def _zorder_key(df: DataFrame, cols: list[str], bits: int = _ZORDER_BITS):
    """Morton (Z-order) key over ``cols``: per-column QUANTILE bucket
    ids (skew-proof, unlike equal-width) bit-interleaved into one
    integer. Range-partitioning on this key makes every output file a
    compact hypercube in the multi-column space, so per-file min/max
    are narrow on EVERY clustered column at once — lexicographic
    ``cluster_by`` only narrows the leading column, leaving a
    predicate on the second column unable to skip anything.

    Scale shape: one ``approxQuantile`` pass (all columns together,
    driver holds k×(2^bits−1) cut points — constant), then the bucket
    map + interleave are pure codegen expressions (a ≤63-element
    literal-array filter per column; no UDF, no extra shuffle beyond
    the range partitioner's sample). Same mechanism as Delta's
    OPTIMIZE ZORDER range_partition_id interleave."""
    nb = 1 << bits

    def proxy(c: str):
        dt = df.schema[c].dataType.simpleString()
        if dt in ("date", "timestamp", "timestamp_ntz"):
            return F.col(c).cast("timestamp").cast("double")
        if dt == "string":
            # order-preserving numeric proxy: first 7 bytes, base-256
            ch = [
                F.coalesce(F.ascii(F.substring(F.col(c), i + 1, 1)), F.lit(0))
                for i in range(7)
            ]
            out = F.lit(0).cast("double")
            for e in ch:
                out = out * 256 + e
            return out
        return F.col(c).cast("double")

    proxied = [proxy(c).alias(f"_zp_{i}") for i, c in enumerate(cols)]
    sample = df.select(*proxied)
    probs = [i / nb for i in range(1, nb)]
    cuts = {
        f"_zp_{i}": sorted(set(q))
        for i, q in enumerate(
            sample.stat.approxQuantile(
                [f"_zp_{i}" for i in range(len(cols))], probs, 1.0 / (4 * nb)
            )
        )
    }

    def bucket(pc: str):
        cp = cuts[pc]
        if not cp:
            return F.lit(0)
        arr = F.array(*[F.lit(float(x)) for x in cp])
        return F.coalesce(
            F.size(F.filter(arr, lambda x: x <= F.col(pc))), F.lit(0)
        )

    key = F.lit(0).cast("long")
    k = len(cols)
    for j in range(bits):
        for i in range(k):
            bit = F.shiftright(bucket(f"_zp_{i}").cast("long"), j).bitwiseAND(
                F.lit(1)
            )
            key = key.bitwiseOR(F.shiftleft(bit, j * k + i))
    return proxied, key


def _snapshot_bytes(path: str) -> int:
    """On-disk bytes of the CURRENT snapshot's data files."""
    total = 0
    for rel in committed_files(path) or []:
        try:
            total += _os.path.getsize(_os.path.join(path, rel))
        except OSError:
            pass
    return total


def compact_fact_table(
    spark: SparkSession,
    path: str,
    cluster_by: list[str] | None = None,
    target_files: int | None = None,
    zorder_by: list[str] | None = None,
    target_file_bytes: int | None = None,
) -> int:
    """Small-file compaction: rewrite the CURRENT snapshot with one
    file per (tenant_id, folder_id) partition and publish it as a
    ``base`` commit — readers atomically switch to the compacted
    layout; older versions stay readable (time travel) until
    ``vacuum_fact_table`` reclaims their files.

    ``zorder_by`` is true multi-column OPTIMIZE ... ZORDER BY: rows
    are range-partitioned on a Morton-interleaved quantile-bucket key
    (see ``_zorder_key``), so file min/max stay narrow on every listed
    column simultaneously and ``pruned_files`` skips on a predicate
    over ANY of them — the right layout when queries filter sometimes
    by one column, sometimes by another.

    ``cluster_by`` is LEXICOGRAPHIC clustering: rows are range-repartitioned into
    ``target_files`` tasks on the cluster keys and sorted within each,
    so every output file covers a disjoint narrow key range and the
    commit's per-file min/max stats let ``pruned_files`` skip most
    files for range/point predicates on those keys — the behavior
    that makes file-stats data skipping actually bite on
    high-cardinality columns (plain compaction leaves each file
    spanning the full key range).

    The at-scale need: streaming ingest appends a file per micro-batch
    per partition, and scan cost degrades with file count. On a
    cluster you'd target ~1 GB files; ``target_file_bytes`` does that
    sizing from the snapshot's actual on-disk bytes (Delta's
    ``maxFileSize``): output task count = ceil(snapshot / target),
    overriding the defaultParallelism fallback wherever
    ``target_files`` was not given explicitly. Returns the new table
    version.
    """
    if target_files is None and target_file_bytes:
        target_files = max(
            1, -(-_snapshot_bytes(path) // int(target_file_bytes))
        )
    read_version = table_version(path)  # OCC: a base commit replaces
    # the WHOLE snapshot, so ANY commit landing after this read (even
    # an append) would be silently dropped by it — publish refuses
    current = read_fact_table(spark, path)
    if zorder_by:
        n = target_files or current.sparkSession.sparkContext.defaultParallelism
        proxied, key = _zorder_key(current, zorder_by)
        current = (
            current.select("*", *proxied)
            .withColumn("_zkey", key)
            .repartitionByRange(n, F.col("_zkey"))
            .sortWithinPartitions("_zkey")
            .drop("_zkey", *[f"_zp_{i}" for i in range(len(zorder_by))])
        )
    elif cluster_by:
        n = target_files or current.sparkSession.sparkContext.defaultParallelism
        current = current.repartitionByRange(
            n, *[F.col(c) for c in cluster_by]
        ).sortWithinPartitions(*cluster_by)
    else:
        spec = table_properties(path).get("partition_spec")
        if spec:
            pcols = [c for c in spec.get("cols", []) if c in current.columns]
        elif all(c in current.columns for c in PARTITION_COLS):
            pcols = list(PARTITION_COLS)
        else:
            pcols = []
        if pcols and target_files:
            current = current.repartition(
                target_files, *[F.col(c) for c in pcols]
            )
        elif pcols:
            current = current.repartition(*[F.col(c) for c in pcols])
        elif target_files:
            current = current.repartition(target_files)
        else:
            current = current.coalesce(1)
    files = _stage_files(current, path)
    # rewrite = the lazy bloom back-fill moment set_bloom_columns
    # promises: files appended before the property existed get their
    # per-column filters here
    return _publish_commit(
        path,
        files,
        base=True,
        stats=_stats_for(path, files),
        bloom=_blooms_for(path, files),
        read_version=read_version,
        op="COMPACT",
        schema=_written_schema(current, path),
    )


def auto_compact(
    spark: SparkSession,
    path: str,
    max_files: int = 64,
    target_files: int | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    target_file_bytes: int | None = None,
) -> int | None:
    """Compaction POLICY (Delta's auto-compact): rewrite only when the
    snapshot's file count exceeds ``max_files``, else do nothing and
    return None. Streaming ingest appends a file per micro-batch per
    partition, so scan cost (task count, footer reads, commit-stats
    folds) degrades linearly in file count; calling this after every
    ingest batch keeps the table bounded at amortized O(1) rewrites —
    each compaction folds up to ``max_files`` small files, triggered
    once per ``max_files`` appends. Layout args pass through to
    ``compact_fact_table`` so the policy preserves clustering/Z-order.
    The check reads only the commit log (no data I/O)."""
    files = committed_files(path)
    if files is None:
        _bootstrap_log(path)
        files = committed_files(path)
    if files is None or len(files) <= max_files:
        return None
    try:
        return compact_fact_table(
            spark,
            path,
            cluster_by=cluster_by,
            target_files=target_files,
            zorder_by=zorder_by,
            target_file_bytes=target_file_bytes,
        )
    except ConcurrentWriteError:
        # a racing writer landed mid-rewrite: compaction is a pure
        # optimization, so skip this round — the policy fires again
        # on a later batch against the newer snapshot
        return None


def set_retention(path: str, seconds: float) -> None:
    """Declare the table's vacuum grace window (Delta's
    ``delta.deletedFileRetentionDuration`` as a TBLPROPERTY): the
    default ``min_age_s`` every ``vacuum_fact_table`` call without an
    explicit value uses. Longer retention keeps more time-travel
    history readable; shorter reclaims space sooner."""
    set_table_property(path, "retention_s", float(seconds))


def vacuum_fact_table(path: str, min_age_s: float | None = None) -> list[str]:
    """Delete data files not referenced by the CURRENT snapshot
    (orphans from crashed appends + pre-compaction generations).
    Time-travel reads older than the last ``base`` commit stop working
    — run only once no reader needs them (the retention trade every
    log-structured table format has). Returns the deleted paths.

    ``min_age_s`` (default: the table's declared ``set_retention``
    property, else 3600 s) is the in-flight-append guard (Delta's
    retention check): ``append_rows`` moves data files into the layout BEFORE
    publishing their commit, so an unreferenced file younger than the
    grace window may belong to an append between its move and its
    publish — deleting it would make that commit reference missing
    files. Only pass 0 when no writer can be active.

    Deletion-vector sidecars under ``_dv/`` are reclaimed by the same
    rule: a DV dir the CURRENT snapshot no longer references
    (superseded by a newer cumulative DV, applied by compaction, or
    orphaned by a crashed delete) is removed once past the grace
    window — in-flight MOR deletes write their sidecar BEFORE
    publishing, exactly like appends."""
    import shutil as _shutil
    import time as _time

    if min_age_s is None:
        min_age_s = float(
            table_properties(path).get("retention_s", 3600.0)
        )
    live = set(committed_files(path) or [])
    cutoff = _time.time() - min_age_s
    removed = []
    for rel in _list_parquet_files(path):
        if rel in live:
            continue
        full = _os.path.join(path, rel)
        try:
            if _os.path.getmtime(full) > cutoff:
                continue  # possibly an in-flight append: leave it
            _os.unlink(full)
        except FileNotFoundError:
            continue
        removed.append(rel)
    state = _fold_state(path)
    live_dv = set((state or {}).get("dv", {}).values())
    dv_root = _os.path.join(path, _DV_DIR)
    if _os.path.isdir(dv_root):
        for name in sorted(_os.listdir(dv_root)):
            rel = _os.path.join(_DV_DIR, name)
            if rel in live_dv:
                continue
            full = _os.path.join(dv_root, name)
            try:
                if _os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight MOR delete
            except FileNotFoundError:
                continue
            _shutil.rmtree(full, ignore_errors=True)
            removed.append(rel)
    # manifest sidecars: every published commit's manifest is live
    # forever (commit records are never deleted); only manifests from
    # commits that never published (crashed mid-publish / OCC loss
    # where the unlink itself crashed) are reclaimable
    live_manifests = set()
    cdir = _os.path.join(path, _COMMITS_DIR)
    for _v, fn in _commit_entries(path) or []:
        try:
            with open(_os.path.join(cdir, fn)) as fh:
                m = _json.load(fh).get("manifest")
        except (OSError, ValueError):
            continue
        if m:
            live_manifests.add(m)
    mdir = _os.path.join(path, _MANIFESTS_DIR)
    if _os.path.isdir(mdir):
        for name in sorted(_os.listdir(mdir)):
            rel = _os.path.join(_MANIFESTS_DIR, name)
            if rel in live_manifests:
                continue
            full = _os.path.join(mdir, name)
            try:
                if _os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight publish
                _os.unlink(full)
            except FileNotFoundError:
                continue
            removed.append(rel)
    return removed


_DV_DIR = "_dv"
_DV_BROADCAST_MAX = 2_000_000  # DV rows; beyond this the anti-join
# shuffles instead of broadcasting (a tenant-wide MOR delete can mask
# ~1e9 rows — broadcasting that would OOM every executor)


def _pos_cols(path: str):
    """(rel-file, row-position) expressions from the scan's
    ``_metadata`` struct. ``row_index`` is the row's stable PHYSICAL
    position in its parquet file (Spark keeps it correct under
    predicate pushdown/page skipping — it's the same primitive Delta's
    deletion vectors build on), so positions recorded at delete time
    match positions observed at read time. The file path is normalized
    URI → table-relative so DV sidecars stay valid if the table
    directory is relocated (the commit log is all-relative)."""
    root = _os.path.abspath(path)
    rel = F.expr(
        "substring(regexp_replace(_metadata.file_path,"
        f" '^[a-zA-Z][a-zA-Z0-9+.-]*:/+', '/'), {len(root) + 2})"
    )
    return rel, F.col("_metadata.row_index").cast("long")


def _with_pos(df: DataFrame, path: str) -> DataFrame:
    rel, idx = _pos_cols(path)
    return df.select(
        "*", rel.alias("_src_file"), idx.alias("_row_idx")
    )


def _apply_dv(
    spark: SparkSession, df: DataFrame, path: str, dvmap: dict[str, str]
) -> DataFrame:
    """Anti-join masked row positions out of a position-tagged scan.
    The DV table is tiny relative to data (only deleted positions);
    it broadcasts when small and falls back to a shuffled anti-join
    past ``_DV_BROADCAST_MAX`` rows. The row-count probe is a
    parquet-footer metadata count, not a data scan."""
    dirs = sorted(set(dvmap.values()))
    dv = spark.read.parquet(
        *[_os.path.join(path, d) for d in dirs]
    ).select("_dv_file", "_dv_idx")
    if dv.count() <= _DV_BROADCAST_MAX:
        dv = F.broadcast(dv)
    return df.join(
        dv,
        (df["_src_file"] == dv["_dv_file"])
        & (df["_row_idx"] == dv["_dv_idx"]),
        "left_anti",
    )


def _logged_schema(state: dict | None) -> StructType | None:
    """The schema a read of ``state``'s files has, from the log alone:
    the folded schema with the partition columns (the ``k=v``
    directories of the file paths) moved last, as Spark's reader
    orders them. None when the log cannot describe the snapshot or it
    has no files."""
    if not state or not state["files"] or not state.get("schema"):
        return None
    parts = _partition_cols(state["files"][0])
    fields = state["schema"]["fields"]
    ordered = [f for f in fields if f["name"] not in parts] + [
        f for p in parts for f in fields if f["name"] == p
    ]
    return StructType.fromJson({"type": "struct", "fields": ordered})


def _partition_cols(rel: str) -> list[str]:
    """Partition columns of the table file ``rel``: its ``k=v``
    directories, outermost first."""
    return [
        seg.split("=", 1)[0]
        for seg in _os.path.dirname(rel).split(_os.sep)
        if "=" in seg
    ]


def _inferred_schema(
    spark: SparkSession, path: str, rels: list[str]
) -> StructType:
    """The schema of the table files ``rels`` when the log cannot
    describe them (no log, or commits written before schemas were
    logged): the data columns by ``mergeSchema`` footer inference,
    the partition columns last, as Spark's reader orders them. A
    partition column takes the type the ``create_fact_table`` sidecar
    declares for it; ``tenant_id``/``folder_id`` are otherwise strings,
    since partition discovery would type an all-numeric tenant id as
    int and serve tenant "007" tenant "7"'s rows; any other partition
    column keeps the type discovery infers from its directory values."""
    parts = _partition_cols(rels[0])
    found = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", path)
        .parquet(*[_os.path.join(path, f) for f in rels])
        .schema
    )
    sidecar = _read_sidecar_schema(path)
    declared = {f.name: f.dataType for f in sidecar.fields} if sidecar else {}

    def part_type(p: str):
        if p in declared:
            return declared[p]
        return StringType() if p in PARTITION_COLS else found[p].dataType

    return StructType(
        [f for f in found.fields if f.name not in parts]
        + [StructField(p, part_type(p)) for p in parts]
    )


def _scan(
    spark: SparkSession, path: str, schema: StructType | None, rels: list[str]
) -> DataFrame:
    """Read the table files ``rels`` with ``schema``. A logged schema
    spares the footer-inference job and keeps partition columns typed
    as written; without one, ``_inferred_schema`` reads the footers
    and types the partition columns. Either way "007" stays a
    string."""
    if schema is None:
        schema = _inferred_schema(spark, path, rels)
    return (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*[_os.path.join(path, f) for f in rels])
    )


def _read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
    with_pos: bool = False,
) -> DataFrame:
    """`read_fact_table` body, plus ``with_pos=True`` for the write
    paths (DELETE/MERGE identification scans) which need each row's
    ``_src_file``/``_row_idx`` — already filtered through any live
    deletion vectors, so a second delete never re-deletes a masked
    row."""
    state = _fold_state(path, version=version)
    if state is None:  # no log: the directory's files, no stats or DVs
        state = {
            "files": _list_parquet_files(path),
            "stats": {},
            "bloom": {},
            "dv": {},
        }
    files = state["files"]
    schema = _logged_schema(state)
    if prune and files:
        stats, blooms = state["stats"], state["bloom"]
        kept = [
            f
            for f in files
            if _may_match(stats.get(f, {}), prune)
            and _bloom_may_match(blooms.get(f, {}), prune)
        ]
        if kept:
            files = kept
        else:
            # provably-empty result: serve the snapshot schema without
            # scanning data
            one = _scan(spark, path, schema, files)
            if with_pos:
                one = _with_pos(one, path)
            return one.limit(0)
    if not files:
        sidecar = _read_sidecar_schema(path)
        if sidecar is not None:
            df = spark.createDataFrame([], sidecar)
            if with_pos:
                df = df.withColumn(
                    "_src_file", F.lit(None).cast("string")
                ).withColumn("_row_idx", F.lit(None).cast("long"))
            return df
        raise FileNotFoundError(f"no data files in table at {path}")
    df = _scan(spark, path, schema, files)
    live = set(files)
    dvmap = {f: d for f, d in state["dv"].items() if f in live}
    if not dvmap:
        return _with_pos(df, path) if with_pos else df
    out = _apply_dv(spark, _with_pos(df, path), path, dvmap)
    return out if with_pos else out.drop("_src_file", "_row_idx")


def read_fact_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read with schema union across file generations (S5 read side):
    rows written before a column existed read NULL for it. The schema
    comes from the commit log (``table_schema``), so building the
    DataFrame runs no Spark job; only snapshots the log cannot
    describe are read with ``mergeSchema`` footer inference
    (``_inferred_schema``: tenant and folder ids stay strings).

    File resolution honors the commit log when one exists — data
    files a crashed append moved into place but never published are
    NOT read — and ``version`` reads the snapshot as of that commit
    (time travel; versions are returned by ``table_version``). Tables
    without a log (or written by other tools) fall back to directory
    listing; `_schema.json`, `_commits/`, `_dv/` and `_staging-*/`
    (underscore prefixes) are invisible to the parquet reader by
    Hadoop's hidden-path convention.

    ``prune`` is a conjunction of ``(column, op, value)`` bounds the
    CALLER also applies as a real filter; here it only drops files
    whose footer stats prove emptiness (data skipping). At 100 TB this
    is the scan lever after partition pruning — a time-range query
    over an append-ordered table touches the few files whose min/max
    overlap it, regardless of partitioning.

    Rows masked by a deletion vector (merge-on-read DELETE/MERGE —
    ``delete_rows(mode="mor")``) are anti-joined out here; snapshots
    with no DVs take the plain scan path unchanged.

    ``as_of_ts`` is TIMESTAMP AS OF travel (unix seconds): the
    snapshot at the newest commit whose timestamp is <= the given
    instant (see ``version_at``); mutually exclusive with
    ``version``."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_ts, not both")
        version = version_at(path, as_of_ts)
    return _read_snapshot(spark, path, version=version, prune=prune)


def table_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``read_fact_table(spark, path)`` has, or None when
    there is no table. Taken from the commit log — no Spark job and no
    footer read — whenever the log describes the snapshot; a table
    with no data yet answers its ``create_fact_table`` schema. Only a
    snapshot the log cannot describe (a table with no log, or commits
    written before schemas were logged) is inferred from the data
    files, by one Spark read."""
    state = _fold_state(path)
    if state is not None and not state["files"]:
        return _read_sidecar_schema(path)
    schema = _logged_schema(state)
    if schema is not None:
        return schema
    files = _list_parquet_files(path) if state is None else state["files"]
    return _inferred_schema(spark, path, files) if files else None


def _read_sidecar_schema(path: str) -> StructType | None:
    sidecar = _os.path.join(path, "_schema.json")
    if not _os.path.exists(sidecar):
        return None
    with open(sidecar) as fh:
        return StructType.fromJson(_json.load(fh))


def evolve_columns(
    existing: set[str], kpi_metadata: list[dict[str, str]]
) -> list[dict[str, str]]:
    """S5 planning: which metadata columns are new to the table.
    Mirrors the reference's existing-columns diff (main.py:274-291) —
    add-only; never drops, never retypes."""
    from pdf_etl_engine_spark.functions import kernel

    return [
        kpi
        for kpi in kpi_metadata
        if kernel.kpi_col_name(kpi.get("name", "")) not in existing
    ]


# ---------------------------------------------------------------------------
# Table constraints (Delta `ALTER TABLE ADD CONSTRAINT` / NOT NULL):
# declared once as table properties, enforced on every write path
# ---------------------------------------------------------------------------


def add_check_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    expression: str,
    validate: bool = True,
) -> None:
    """Register a CHECK constraint (SQL boolean expression over table
    columns). Semantics follow the SQL standard / Delta: a row
    violates only when the expression evaluates to FALSE — UNKNOWN
    (NULL) satisfies. With ``validate`` (default), existing rows are
    scanned first and a violating table refuses the constraint — so a
    registered constraint is a real invariant, not an aspiration.
    The scan is one filtered pass with stats/partition pruning live;
    enforcement on appends/merges is a map-only predicate over each
    incoming batch (cost ∝ batch, never table)."""
    props = table_properties(path)
    checks = dict(props.get("check_constraints") or {})
    if validate and (committed_files(path) or _list_parquet_files(path)):
        cur = read_fact_table(spark, path)
        _raise_on_violations(
            cur, {name: expression}, [], where="existing rows"
        )
    checks[name] = expression
    set_table_property(path, "check_constraints", checks)


def drop_check_constraint(path: str, name: str) -> None:
    props = table_properties(path)
    checks = dict(props.get("check_constraints") or {})
    checks.pop(name, None)
    set_table_property(path, "check_constraints", checks)


def set_not_null(
    spark: SparkSession, path: str, cols: list[str], validate: bool = True
) -> None:
    """Declare NOT NULL columns (enforced on every future write; a
    batch simply missing the column counts as all-NULL and is
    refused). Existing rows are validated first like
    ``add_check_constraint``."""
    if validate and (committed_files(path) or _list_parquet_files(path)):
        cur = read_fact_table(spark, path)
        _raise_on_violations(cur, {}, cols, where="existing rows")
    set_table_property(path, "not_null_cols", sorted(set(cols)))


def _raise_on_violations(
    df: DataFrame,
    checks: dict[str, str],
    not_null: list[str],
    where: str = "incoming batch",
) -> None:
    """One map-only detection pass over ``df`` for ALL declared
    constraints: each row carries the array of constraint names it
    violates; the first few violating rows are sampled (bounded
    collect) for the error. Raises ValueError — the same quarantine
    -able contract the extractor uses."""
    conds: list[tuple[str, Column]] = []
    for name in sorted(checks):
        expr = checks[name]
        conds.append(
            (
                f"CHECK {name} ({expr})",
                ~F.coalesce(F.expr(expr), F.lit(True)),
            )
        )
    for c in not_null:
        if c in df.columns:
            conds.append((f"NOT NULL {c}", F.col(c).isNull()))
        else:
            conds.append((f"NOT NULL {c} (column absent)", F.lit(True)))
    if not conds:
        return
    tags = F.array_compact(
        F.array(*[F.when(cond, F.lit(label)) for label, cond in conds])
    )
    try:
        sample = (
            df.select(tags.alias("_violated"))
            .filter(F.size("_violated") > 0)
            .limit(3)
            .collect()
        )
    except Exception as e:  # noqa: BLE001 — analysis error, not data
        raise ValueError(
            f"constraint not evaluable against {where}: {e}"
        ) from None
    if sample:
        names = sorted({n for r in sample for n in r["_violated"]})
        raise ValueError(
            f"constraint violation in {where}: {'; '.join(names)}"
        )


def _enforce_constraints(df: DataFrame, path: str) -> None:
    props = table_properties(path)
    _raise_on_violations(
        df,
        props.get("check_constraints") or {},
        props.get("not_null_cols") or [],
    )
