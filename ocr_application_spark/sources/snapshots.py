"""Snapshot log + time travel over a parquet table directory.

The no-Iceberg-jar emulation of Iceberg's commit model (the sandbox has
no Iceberg runtime; this is the documented deviation from the
north_star's "Iceberg snapshot commit"). The load-bearing properties
are reproduced honestly:

* **data files are immutable** — every commit writes its own
  ``data/c{n}/`` subtree with fresh part files; nothing is rewritten in
  place, so old snapshots stay readable (real time travel, not a
  pointer to since-deleted files);
* **a snapshot is a manifest** — ``_snapshots/v{n}.json`` lists the
  exact data files visible at that version (plus parent and operation
  metadata); readers plan from the manifest, never from directory
  listing;
* **commits are atomic and exclusive** — the manifest is written to a
  temp name and published with an exclusive ``os.link``, so a reader
  sees either the old or the new snapshot (never a partial one) and a
  racing writer LOSES loudly (``SnapshotConflictError``) instead of
  clobbering the winner; read-modify-write commits (MERGE) additionally
  pin ``expected_parent`` so a concurrent append fails them too;
* **overwrite is logical** — ``commit(mode="overwrite_partitions")``
  drops the replaced partitions' files from the new manifest while the
  bytes stay on disk for older snapshots (Iceberg's delete-by-manifest,
  GC deferred to an expire step);
* **zone maps ride the manifest** — every commit records per-file
  min/max column stats harvested from the parquet FOOTERS already on
  disk (no data pass, exactly how Iceberg fills its manifests);
  ``plan_scan``/``scan_snapshot`` skip files whose range cannot match
  a predicate BEFORE Spark ever opens them — the data-skipping layer
  that, on a 10^12-row table, turns a point-range query from "open
  every footer" into "open the few files whose zone intersects";
* **schema evolution is additive and read-time** — an incremental
  commit may ADD columns (Iceberg add-column); readers align every
  data file to the snapshot's recorded schema, so pre-evolution files
  project typed nulls for the later columns and time travel to an old
  version returns the OLD schema exactly. Dropping or retyping a
  column on an incremental commit fails loudly
  (``SchemaEvolutionError``); a full ``replace_all`` rewrite may
  reshape freely;
* **refs: branches, tags, rollback, write-audit-publish** — named
  pointers at snapshots (``_snapshots/refs/``), the Iceberg refs
  analog: ``create_branch`` + ``commit(branch=...)`` stage commits
  invisible to main readers, ``publish_branch`` fast-forwards main
  atomically (the WAP publish; non-fast-forward fails loud),
  ``create_tag`` pins an immutable bookmark ``expire_snapshots``
  must preserve, ``rollback`` rewinds main along its own history.
  ``main`` stays implicit (head = highest version — the pre-refs
  behavior) until the first ref pins it.

On a real cluster, replace this module with Iceberg's ``writeTo``/
``VERSION AS OF`` — the call sites are shaped for that swap.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SNAP_RE = re.compile(r"^v(\d+)\.json$")


class SnapshotConflictError(RuntimeError):
    """Two writers raced to publish the same snapshot version; the loser
    fails (Iceberg's optimistic-concurrency commit conflict) instead of
    silently clobbering the winner's manifest."""


class SchemaEvolutionError(ValueError):
    """A commit tried a schema change this emulation cannot honor
    (dropping or retyping a column). Only ADDITIVE evolution — new
    columns, Iceberg's add-column — is supported on append /
    overwrite_partitions / merge commits; a full ``replace_all``
    rewrite may reshape the schema freely (it owns every visible
    file)."""


def _check_schema_evolution(parent_schema_json: str, new_schema) -> None:
    """Additive-only guard: every parent field must survive in the new
    schema with the identical type. New fields are fine (readers of the
    new snapshot see old files project typed nulls)."""
    import json as _json

    from pyspark.sql import types as T

    parent = T.StructType.fromJson(_json.loads(parent_schema_json))
    new_by_name = {f.name: f.dataType for f in new_schema.fields}
    dropped = [f.name for f in parent.fields if f.name not in new_by_name]
    retyped = [
        f"{f.name}: {f.dataType.simpleString()} -> "
        f"{new_by_name[f.name].simpleString()}"
        for f in parent.fields
        if f.name in new_by_name and new_by_name[f.name] != f.dataType
    ]
    if dropped or retyped:
        raise SchemaEvolutionError(
            "only additive schema evolution is supported on incremental "
            f"commits (dropped: {dropped}, retyped: {retyped}); use "
            "mode='replace_all' for a reshaping rewrite"
        )


def _mode_of(manifest: dict) -> str:
    """The commit's MODE (append / overwrite_partitions / replace_all),
    independent of its display label. Pre-r03 manifests recorded only
    ``operation`` (op_label or mode), so fall back: the two rewrite
    labels in use then were 'replace_all' and 'compact'."""
    mode = manifest.get("mode")
    if mode is not None:
        return mode
    op = manifest.get("operation")
    return "replace_all" if op in ("replace_all", "compact") else (op or "append")


def snapshot_info(path: str, version: int) -> dict:
    """Commit metadata for one snapshot (no file list): version, parent,
    mode, operation label, partition_by, n_files. ``mode`` drives
    machine decisions (is this a full rewrite?); ``operation`` is the
    human label (e.g. 'compact', 'rebuild')."""
    m = _load_manifest(path, version)
    return {
        "version": m["version"],
        "parent": m.get("parent"),
        "mode": _mode_of(m),
        "operation": m.get("operation"),
        "branch": m.get("branch", "main"),
        "partition_by": m.get("partition_by"),
        "n_files": len(m.get("files", [])),
    }


def _snap_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def snapshot_versions(path: str) -> list[int]:
    d = _snap_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(d) if (m := _SNAP_RE.match(f))
    )


def _load_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_snap_dir(path), f"v{version}.json")) as fh:
        return json.load(fh)


def _uri_to_local(f: str) -> str:
    """Hadoop Path URI (``input_file_name()`` output) -> local filesystem
    path, percent-decoding only when a scheme marks the string as a URI
    (a raw path may legitimately contain '%')."""
    if f.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(f).path)
    return f


def _list_parquet(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


# --- refs: branches, tags, rollback, write-audit-publish -----------------------
# The Iceberg refs analog: a ref is a named pointer at a snapshot
# version, stored one file per ref under ``_snapshots/refs/``. Branches
# move (commits advance them); tags are immutable bookmarks. ``main``
# is the implicit default branch: while no ref file pins it, the head
# is simply the highest version (the pre-refs linear behavior, so
# existing tables are untouched). The moment history can diverge —
# first create_branch / create_tag / rollback — main is PINNED to an
# explicit ref file, because "highest version" stops meaning "main
# head" once another branch can mint versions.
#
# Version numbers stay GLOBAL and exclusive (every commit, on any
# branch, claims max+1 via the O_EXCL manifest publish), so snapshot
# creation is serialized table-wide and a branch can never clobber
# another branch's snapshot; each manifest's ``parent`` pointer is what
# defines the history DAG. A crash between manifest publish and the
# ref advance leaves an orphan snapshot no ref points at — harmless
# (expire/GC territory), exactly Iceberg's orphaned-snapshot failure
# mode, never a half-visible commit.

_REF_RE = re.compile(r"^[A-Za-z0-9_.\-]{1,64}$")


def _refs_dir(path: str) -> str:
    return os.path.join(_snap_dir(path), "refs")


def _ref_file(path: str, name: str) -> str:
    return os.path.join(_refs_dir(path), f"{name}.json")


def _load_ref(path: str, name: str) -> dict | None:
    try:
        with open(_ref_file(path, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _write_ref(path: str, name: str, rtype: str, version: int) -> None:
    """Atomically (re)point a ref. os.replace keeps readers seeing
    either the old or the new pointer, never a partial file."""
    os.makedirs(_refs_dir(path), exist_ok=True)
    tmp = os.path.join(_refs_dir(path), f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "type": rtype, "version": version}, fh)
    os.replace(tmp, _ref_file(path, name))


@contextlib.contextmanager
def _ref_lock(path: str, stale_after: float = 60.0):
    """Serialize ref-pointer ADVANCES (mkdir is the atomic primitive).

    The O_EXCL manifest publish alone cannot detect a same-branch race
    once a ref pins the head: the version NUMBER comes from the global
    listing while the PARENT comes from the ref file, so two writers
    can claim distinct numbers off the same parent and the second would
    silently drop the first from the branch. Every check-then-move of a
    ref runs inside this lock. A crashed holder's lock is stolen after
    ``stale_after`` seconds; a live contender surfaces as a retryable
    ``SnapshotConflictError`` (optimistic concurrency — the loser
    retries, as in Iceberg)."""
    os.makedirs(_refs_dir(path), exist_ok=True)
    d = os.path.join(_refs_dir(path), ".reflock")
    owner_file = os.path.join(d, "owner")
    token = uuid.uuid4().hex
    acquired = False
    for _ in range(2):  # initial try + one retry after steal/release
        try:
            os.mkdir(d)
            # owner token: release (and only release) what WE acquired —
            # without it, a >stale_after holder's finally-rmdir could
            # release a lock a thief now legitimately holds
            with open(owner_file, "w") as fh:
                fh.write(token)
            acquired = True
            break
        except FileExistsError:
            try:
                stale = (time.time() - os.path.getmtime(d)) > stale_after
            except OSError:
                continue  # holder released between mkdir and stat; retry
            if not stale:
                break
            # Steal by atomic RENAME, never rmdir-in-place: two thieves
            # both rmdir-ing could interleave with the winner's fresh
            # mkdir and put both inside the critical section. rename is
            # atomic — exactly one thief moves the stale dir aside; the
            # loser retries and finds the winner's fresh (non-stale) lock.
            grave = f"{d}.stale.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(d, grave)
            except OSError:
                continue  # another thief won the rename; retry mkdir
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(grave, "owner"))
            with contextlib.suppress(OSError):
                os.rmdir(grave)
    if not acquired:
        raise SnapshotConflictError(
            f"ref lock at {path} is held by a concurrent writer; "
            "retry the operation"
        )
    try:
        yield
    finally:
        # verify ownership before releasing: if our lock was stolen
        # (we held it past stale_after), d now belongs to the thief
        try:
            with open(owner_file) as fh:
                ours = fh.read() == token
        except OSError:
            ours = False
        if ours:
            with contextlib.suppress(OSError):
                os.unlink(owner_file)
            with contextlib.suppress(OSError):
                os.rmdir(d)


def _create_ref(path: str, name: str, rtype: str, version: int) -> None:
    """Exclusive ref creation: a racing double-create loses loudly."""
    os.makedirs(_refs_dir(path), exist_ok=True)
    tmp = os.path.join(_refs_dir(path), f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "type": rtype, "version": version}, fh)
    try:
        os.link(tmp, _ref_file(path, name))
    except FileExistsError:
        os.unlink(tmp)
        raise ValueError(f"ref {name!r} already exists at {path}") from None
    os.unlink(tmp)


def _head_version(path: str, branch: str = "main") -> int | None:
    """Current head of ``branch``: the pinning ref file if present,
    else (main only) the highest version — the legacy linear head."""
    ref = _load_ref(path, branch)
    if ref is not None:
        if ref["type"] != "branch":
            raise ValueError(f"ref {branch!r} is a tag, not a branch")
        return ref["version"]
    if branch == "main":
        versions = snapshot_versions(path)
        return versions[-1] if versions else None
    raise FileNotFoundError(f"branch {branch!r} not found at {path}")


def _resolve(path: str, version: int | None = None) -> int:
    """``version`` (default: main's head) checked against the table's
    snapshots; a table without snapshots or a missing version raises
    ``FileNotFoundError``."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = _head_version(path) if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found (have {versions})")
    return v


def _pin_main(path: str) -> None:
    """Pin main's head to an explicit ref file (idempotent). Must run
    BEFORE any ref that lets history diverge is created — afterwards
    max(version) may belong to another branch."""
    if _load_ref(path, "main") is None:
        versions = snapshot_versions(path)
        if versions:
            _write_ref(path, "main", "branch", versions[-1])


def _ancestors(path: str, version: int) -> list[int]:
    """``version`` and its LIVE parent chain, newest first, following
    each manifest's recorded parent pointer (the history DAG, which
    global version numbering does NOT encode once branches exist). The
    walk truncates at the first expired ancestor: ``expire_snapshots``
    deletes old manifests, and a table whose tail history was expired
    must stay usable (rollback/publish/diff against its live range),
    not crash on the dangling parent pointer."""
    out, v = [], version
    while v is not None:
        out.append(v)
        try:
            v = _load_manifest(path, v).get("parent")
        except FileNotFoundError:
            break  # parent expired — chain ends at the oldest live manifest
    return out


def _check_ref_name(name: str) -> None:
    if not _REF_RE.match(name):
        raise ValueError(
            f"invalid ref name {name!r} (allowed: [A-Za-z0-9_.-], 1-64 chars)"
        )


def create_branch(path: str, name: str, version: int | None = None) -> int:
    """Create branch ``name`` at ``version`` (default: main's head) —
    Iceberg's ``createBranch``. Pins main first so the two heads can
    diverge safely. Returns the branch's starting version."""
    _check_ref_name(name)
    if name == "main":
        raise ValueError("'main' is the implicit default branch")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = _head_version(path) if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found (have {versions})")
    _pin_main(path)
    _create_ref(path, name, "branch", v)
    return v


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Create immutable tag ``name`` at ``version`` (default: main's
    head) — Iceberg's ``createTag``. A tagged snapshot survives
    ``expire_snapshots`` until the tag is dropped."""
    _check_ref_name(name)
    if name == "main":
        raise ValueError("'main' names the default branch, not a tag")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = _head_version(path) if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found (have {versions})")
    _pin_main(path)
    _create_ref(path, name, "tag", v)
    return v


def drop_ref(path: str, name: str) -> None:
    """Delete a branch or tag pointer (the snapshots it protected
    become ordinary expire candidates). ``main`` is not droppable."""
    if name == "main":
        raise ValueError("cannot drop the main branch")
    try:
        os.remove(_ref_file(path, name))
    except FileNotFoundError:
        raise FileNotFoundError(f"ref {name!r} not found at {path}") from None


def list_refs(path: str) -> dict:
    """All refs as {name: {"type": ..., "version": ...}}, including the
    implicit main head (marked pinned=False while no ref file exists)."""
    out = {}
    d = _refs_dir(path)
    if os.path.isdir(d):
        for f in sorted(os.listdir(d)):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(d, f)) as fh:
                    r = json.load(fh)
                out[r["name"]] = {"type": r["type"], "version": r["version"], "pinned": True}
    if "main" not in out:
        versions = snapshot_versions(path)
        if versions:
            out["main"] = {"type": "branch", "version": versions[-1], "pinned": False}
    return out


def publish_branch(path: str, name: str) -> int:
    """Fast-forward main to ``name``'s head — the PUBLISH step of
    write-audit-publish (Iceberg's ``fast_forward``): stage commits on
    an audit branch (invisible to main readers), validate them, then
    flip main atomically. Refuses a non-fast-forward (main advanced
    since the branch was cut) with ``SnapshotConflictError`` — merging
    diverged branches needs an explicit row-level MERGE, not a pointer
    move that would silently drop main's commits."""
    ref = _load_ref(path, name)
    if ref is None or ref["type"] != "branch":
        raise FileNotFoundError(f"branch {name!r} not found at {path}")
    with _ref_lock(path):  # fast-forward check + move must be atomic
        head, main_head = ref["version"], _head_version(path)
        if main_head is not None and main_head != head and main_head not in _ancestors(path, head):
            raise SnapshotConflictError(
                f"cannot fast-forward main (v{main_head}) to branch {name!r} "
                f"(v{head}): main is not an ancestor of the branch head — "
                "history diverged; rebase the branch or merge row-level"
            )
        _write_ref(path, "main", "branch", head)
    return head


def rollback(path: str, version: int) -> int:
    """Move main back to an earlier snapshot on its own history
    (Iceberg's ``rollback_to_snapshot``). The abandoned newer
    snapshots stay time-travelable until expired; the next main commit
    parents off the rolled-back head."""
    with _ref_lock(path):  # ancestry check + move must be atomic
        main_head = _head_version(path)
        if main_head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        if version not in _ancestors(path, main_head):
            raise ValueError(
                f"v{version} is not on main's history (head v{main_head}); "
                "rollback only rewinds the current branch"
            )
        _write_ref(path, "main", "branch", version)
    return version


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: str | None = None,
    replace_partitions: list | None = None,
    op_label: str | None = None,
    replace_files: list | None = None,
    expected_parent: int | None = None,
    branch: str = "main",
) -> int:
    """Write ``df`` as a new immutable commit and publish the next
    snapshot. ``mode``:

    * ``append`` — new files add to the previous snapshot's visible set;
    * ``overwrite_partitions`` — files of the previous snapshot lying in
      the given ``partition_by`` partitions (``replace_partitions``
      values) are dropped from the new manifest (bytes untouched);
    * ``replace_all`` — the new files ARE the table (full logical
      rewrite; prior snapshots stay readable until expired) — what
      compaction commits;
    * ``merge`` — copy-on-write partial rewrite (what ``merge_pages``
      commits): the explicit ``replace_files`` drop from the visible
      set and the new files take their place. Every replace_files entry
      must be visible in the parent snapshot — a stale merge (another
      writer already rewrote the file) must fail, not silently drop a
      file that is no longer there.
    """
    if mode not in ("append", "overwrite_partitions", "replace_all", "merge"):
        raise ValueError(f"unknown commit mode {mode!r}")
    if mode == "overwrite_partitions" and (not partition_by or replace_partitions is None):
        raise ValueError("overwrite_partitions needs partition_by + replace_partitions")
    if mode == "merge" and replace_files is None:
        raise ValueError("merge needs replace_files (may be empty)")
    if mode == "overwrite_partitions":
        for v in replace_partitions:
            seg = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
            if v is not None and not re.fullmatch(r"[A-Za-z0-9_.\-]+", seg):
                # Spark URL-escapes such values in partition dir names
                # ('a b' -> 'a%20b'), so a raw-string match would
                # silently drop NOTHING and leave stale rows visible.
                # This emulation supports plain values only — fail loud.
                raise ValueError(
                    f"partition value {v!r} needs path escaping; this "
                    "snapshot emulation supports [A-Za-z0-9_.-] values "
                    "(and None) only"
                )
    versions = snapshot_versions(path)
    if branch == "main":
        parent = _head_version(path)
    else:
        # a non-main branch must exist before it takes commits (create
        # it with create_branch; tags never take commits) — an implicit
        # create here would hide typos as silent new branches
        ref = _load_ref(path, branch)
        if ref is None:
            raise FileNotFoundError(
                f"branch {branch!r} not found at {path}; create_branch first"
            )
        if ref["type"] != "branch":
            raise ValueError(f"ref {branch!r} is a tag — tags are immutable")
        parent = ref["version"]
    if expected_parent is not None and parent != expected_parent:
        # the caller's read-modify-write (e.g. merge_pages) planned
        # against expected_parent; another writer advanced the table in
        # between, and committing anyway would silently absorb (and
        # possibly duplicate keys against) the concurrent commit —
        # Iceberg's MERGE validation fails this writer instead
        raise SnapshotConflictError(
            f"table at {path} advanced from v{expected_parent} to "
            f"v{parent} while this {mode} commit was being prepared; "
            "re-read the table and retry"
        )
    if parent and mode != "replace_all":
        # additive-only schema evolution (Iceberg add-column analog):
        # validated BEFORE any bytes are written so a rejected commit
        # leaves no orphan files
        _check_schema_evolution(_load_manifest(path, parent)["schema"], df.schema)
    # version numbers are GLOBAL across branches (max+1, O_EXCL-claimed
    # below), so two branches can never mint the same snapshot; the
    # manifest's parent pointer — not the number — carries lineage
    version = (versions[-1] if versions else 0) + 1
    commit_dir = os.path.join(_data_dir(path), f"c{version}-{uuid.uuid4().hex[:8]}")
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(commit_dir)
    new_files = _list_parquet(commit_dir)

    visible = (
        list(_load_manifest(path, parent)["files"])
        if parent and mode != "replace_all"
        else []
    )
    if mode == "merge":
        missing = sorted(set(replace_files) - set(visible))
        if missing:
            raise ValueError(
                f"merge conflict: {len(missing)} replace_files not visible "
                f"in parent snapshot (e.g. {missing[0]!r}) — the table "
                "changed under the merge; re-read and retry"
            )
        dropped_set = set(replace_files)
        visible = [f for f in visible if f not in dropped_set]
    if mode == "overwrite_partitions":
        data_root = _data_dir(path)
        # match on paths RELATIVE to the data root (a table rooted at a
        # path that itself contains 'bucket=0/' must not drop everything)
        rel_visible = [os.path.relpath(f, data_root) for f in visible]
        # every prior visible file must actually live under a
        # '{partition_by}=' directory: a table whose earlier commits were
        # unpartitioned (or partitioned by a different column) carries
        # the values inside part files where a path filter cannot see
        # them — silently dropping nothing would leave stale rows
        # visible, so refuse instead
        seg_prefix = f"{partition_by}="
        bad = [
            r
            for r in rel_visible
            if not any(p.startswith(seg_prefix) for p in r.split(os.sep)[1:-1])
        ]
        if bad:
            raise ValueError(
                f"cannot overwrite by {partition_by!r}: {len(bad)} visible "
                f"file(s) (e.g. {bad[0]!r}) are not under a "
                f"'{seg_prefix}...' directory — earlier commits were not "
                f"partitioned by {partition_by!r}"
            )
        dropped = {
            seg_prefix
            + ("__HIVE_DEFAULT_PARTITION__" if v is None else str(v))
            for v in replace_partitions
        }
        visible = [
            f
            for f, r in zip(visible, rel_visible)
            if not any(p in dropped for p in r.split(os.sep)[1:-1])
        ]
    visible.extend(new_files)

    # zone maps: surviving files carry their parent stats forward (file
    # bytes are immutable, so the stats stay true); new files harvest
    # min/max from the parquet footers just written — O(footers), never
    # a data pass. A file with no usable stats simply has no entry and
    # is kept by every scan (pruning is only ever an optimization).
    parent_stats = (
        _load_manifest(path, parent).get("stats", {})
        if parent and mode != "replace_all"
        else {}
    )
    stats = {f: parent_stats[f] for f in visible if f in parent_stats}
    for f in new_files:
        s = _footer_zone_stats(f)
        if s:
            stats[f] = s

    os.makedirs(_snap_dir(path), exist_ok=True)
    manifest = {
        "version": version,
        "parent": parent,
        # mode is the machine-readable commit kind (diff guards and the
        # ingest batcher key off it); operation is purely a display
        # label — commit(mode="replace_all", op_label="rebuild") must
        # still be seen as a rewrite by every incremental consumer
        "mode": mode,
        "operation": op_label or mode,
        "branch": branch,
        "partition_by": partition_by,
        # recorded so an all-files-dropped snapshot stays readable as an
        # empty DataFrame with the right schema
        "schema": df.schema.json(),
        "files": sorted(visible),
        "stats": stats,
    }
    tmp = os.path.join(_snap_dir(path), f".v{version}.json.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    final = os.path.join(_snap_dir(path), f"v{version}.json")
    try:
        # exclusive publish: os.link fails with EEXIST if another writer
        # already claimed v{n} — the loser's data files become orphans
        # (age-based GC territory) instead of the winner's manifest
        # being clobbered by the old os.replace
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        raise SnapshotConflictError(
            f"snapshot v{version} at {path} was concurrently committed by "
            "another writer; re-read the table and retry the commit"
        ) from None
    os.unlink(tmp)
    # advance the branch pointer. For UNPINNED main (head == max
    # version) the O_EXCL manifest publish alone serializes writers:
    # parent and claimed number are both max-derived, so a racing pair
    # collides on the same v{n} and the loser already raised above. For
    # a PINNED ref the number (global max+1) and the parent (ref file)
    # are decoupled, so re-validate the parent under the ref lock: if
    # another writer advanced this branch since we planned, unlink our
    # manifest (its files become age-gated GC orphans) and lose loudly.
    if branch != "main" or _load_ref(path, "main") is not None:
        with _ref_lock(path):
            cur = _head_version(path, branch)
            if cur != parent:
                os.unlink(final)
                raise SnapshotConflictError(
                    f"branch {branch!r} at {path} advanced from "
                    f"v{parent} to v{cur} while this {mode} commit was "
                    "being prepared; re-read the table and retry"
                )
            _write_ref(path, branch, "branch", version)
    return version


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Plan a scan from the manifest of ``version`` (default: the main
    branch's head) — the ``VERSION AS OF`` analog; ``ref`` reads a
    branch or tag head instead (``VERSION AS OF 'audit'``). Files are
    scanned per commit subtree (each with its commit dir as basePath,
    so ``key=value`` partition dirs parse while the non-partition
    ``c{n}`` level does not confuse discovery) and unioned by name."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version OR ref, not both")
        r = _load_ref(path, ref)
        if r is None and ref != "main":
            raise FileNotFoundError(f"ref {ref!r} not found at {path}")
        version = None if r is None else r["version"]
    manifest = _load_manifest(path, _resolve(path, version))
    return _read_files(spark, path, manifest["files"], schema_json=manifest["schema"])


def _read_files(
    spark: SparkSession, path: str, files: list[str], schema_json: str
) -> DataFrame:
    """Scan manifest files, each commit subtree with its own basePath,
    planned from the manifest's recorded schema — no schema-inference
    job, however many commits the table has. Files written before an
    additive evolution read typed nulls for the later columns (the
    Iceberg read-time projection), and partition-dir columns take their
    recorded type. ``commit`` rejects drops and retypes, so a file can
    disagree with its manifest only when it was replaced behind the
    table's back: beyond Spark's parquet widenings (int32 reads as
    bigint) that fails when the scan runs, with Spark's
    ``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH``, rather than
    casting silently."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    if not files:
        # a legitimately empty file set (every partition overwritten
        # away, an empty diff, everything pruned): an empty DataFrame
        # with the recorded schema, NOT an error — callers must be able
        # to tell "empty at vN" from "vN missing"
        return spark.createDataFrame([], schema)
    data_root = _data_dir(path)
    by_commit: dict[str, list[str]] = {}
    for f in files:
        rel = os.path.relpath(f, data_root)
        commit_root = os.path.join(data_root, rel.split(os.sep, 1)[0])
        by_commit.setdefault(commit_root, []).append(f)
    out = None
    for commit_root, group in sorted(by_commit.items()):
        part = (
            spark.read.schema(schema)
            .option("basePath", commit_root)
            .parquet(*group)
            .select(*schema.names)
        )
        out = part if out is None else out.unionByName(part)
    return out


def read_snapshot_diff(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Incremental scan (Iceberg's incremental-read analog): rows in the
    data files that became visible AFTER ``from_version``, up to
    ``to_version`` (default latest). Because commits are append-only at
    the file level, the diff is a pure manifest set difference — no data
    comparison — which is what makes incremental recompute (extract only
    newly crawled pages, re-dedup only fresh docs) O(new data) instead
    of O(table). Rows REMOVED by a logical overwrite don't appear (this
    is the additions stream, like Iceberg's append-scan)."""
    _resolve(path, from_version)
    to_v = _resolve(path, to_version)
    if from_version > to_v:
        raise ValueError(
            f"inverted range: from_version={from_version} > to_version={to_v}"
        )
    # the diff range must lie on ONE line of history: walk to_v's
    # parent chain (NOT version numbers, which interleave branches once
    # refs exist) and require from_version on it — a cross-branch "diff"
    # is a meaningless file-set subtraction, not an append stream
    chain = _ancestors(path, to_v)
    if from_version not in chain:
        raise ValueError(
            f"v{from_version} is not on the live parent chain of "
            f"v{to_v} — the diff range crosses branches, or an "
            "intermediate snapshot was expired (making the no-rewrite-"
            "in-range check impossible); re-baseline the consumer on "
            "this branch's live history"
        )
    # A replace_all (compaction) commit rewrites every file, so a raw
    # manifest diff across it would re-surface the ENTIRE table as
    # "new". Mirror Iceberg's incremental append-scan: refuse ranges
    # crossing a replace snapshot and make the caller re-baseline.
    for v in chain:
        if from_version < v <= to_v:
            m = _load_manifest(path, v)
            mode = _mode_of(m)
            if mode in ("replace_all", "merge"):
                # guard on MODE, not the display label: a
                # commit(mode="replace_all", op_label="rebuild") is just
                # as much a full rewrite as one labeled "compact"; a
                # merge rewrites SOME files, whose surviving rows would
                # re-surface as phantom "additions"
                raise ValueError(
                    f"diff range ({from_version}, {to_v}] crosses the "
                    f"{mode} commit v{v} "
                    f"(label {m.get('operation')!r}), which rewrites "
                    "file contents — file-level additions are "
                    "meaningless; re-baseline the consumer's watermark "
                    f"at or after v{v}"
                )
    base = set(_load_manifest(path, from_version)["files"])
    target = _load_manifest(path, to_v)
    new_files = sorted(set(target["files"]) - base)
    return _read_files(spark, path, new_files, schema_json=target["schema"])


def _rewrite_set(
    spark: SparkSession, path: str, version: int, keys: DataFrame, key: list
) -> tuple[list[str], DataFrame]:
    """The copy-on-write unit of ``merge_pages`` and ``delete_pages``:
    the data files of snapshot ``version`` holding a row whose ``key``
    appears in ``keys`` (a driver collect bounded by the FILE count,
    never rows), and those files' rows whose key does not."""
    manifest = _load_manifest(path, version)
    kdf = F.broadcast(keys.select(*key).distinct())
    cur = _read_files(spark, path, manifest["files"], schema_json=manifest["schema"])
    hits = (
        cur.withColumn("f", F.input_file_name())
        .join(kdf, key, "left_semi")
        .select("f")
        .distinct()
        .collect()
    )
    # input_file_name() returns the Hadoop Path URI (percent-encoded:
    # 'my table' -> 'my%20table'); manifest entries are raw os.walk
    # paths, so decode before comparing or a table under an
    # escaping-needy path fails every rewrite with a bogus conflict
    affected = [_uri_to_local(f) for f in sorted(r.f for r in hits)]
    survivors = _read_files(
        spark, path, affected, schema_json=manifest["schema"]
    ).join(kdf, key, "left_anti")
    return affected, survivors


def merge_pages(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: tuple = ("url",),
    partition_by: str | None = None,
) -> int:
    """Row-level upsert (Iceberg ``MERGE INTO`` analog, copy-on-write):
    rows in ``updates`` replace current rows with the same ``key``;
    unmatched keys append. The incremental-crawl case: a recrawl of the
    same canonical url arrives with a newer warc_ts and must supersede
    the old page without rewriting the whole table.

    Copy-on-write at file granularity, like Iceberg's CoW MERGE: only
    data files that actually contain a matched key are rewritten
    (matched rows replaced, surviving neighbors carried over); all
    other files are referenced unchanged by the new manifest, and prior
    snapshots still time-travel. The affected-file list is a driver
    collect bounded by the table's FILE count (never rows) — the same
    write-amplification unit Iceberg pays. Incremental consumers see a
    content rewrite: ``read_snapshot_diff`` refuses ranges crossing a
    merge commit (surviving rows would re-surface as phantom
    additions), so ingest watermarks must re-baseline across it.

    ``updates`` must be unique per key (multi-row matches are an error,
    as in Iceberg's MERGE cardinality check).
    """
    key = list(key)
    n_dups = (
        updates.groupBy(*key).count().filter(F.col("count") > 1).limit(1).count()
    )
    if n_dups:
        raise ValueError(
            f"updates contain duplicate {key} keys — MERGE requires one "
            "update row per key (Iceberg cardinality violation)"
        )
    # updates must carry every current table column (a MERGE inserts
    # full rows); EXTRA update columns are additive evolution — old
    # files' surviving rows project nulls for them, like any
    # post-evolution read
    base_version = _resolve(path)
    _check_schema_evolution(_load_manifest(path, base_version)["schema"], updates.schema)
    affected, survivors = _rewrite_set(spark, path, base_version, updates, key)
    # allowMissingColumns fills only the SURVIVOR side (updates were
    # just validated to be a superset of the table schema)
    new_rows = (
        survivors.unionByName(updates, allowMissingColumns=True) if affected else updates
    )
    return commit(
        new_rows,
        path,
        mode="merge",
        partition_by=partition_by,
        op_label="merge",
        replace_files=affected,
        # fail if another writer advanced the table since base_version:
        # committing anyway would absorb the concurrent commit's files
        # into this manifest unvalidated (possible duplicate keys)
        expected_parent=base_version,
    )


def delete_pages(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: tuple = ("url",),
    partition_by: str | None = None,
) -> int:
    """Row-level DELETE (Iceberg ``DELETE FROM`` analog, copy-on-write)
    — the takedown/robots-revocation/GDPR path an incremental crawl
    store eventually needs: rows whose ``key`` appears in ``keys`` are
    removed from the current snapshot.

    Same copy-on-write unit as ``merge_pages``: only data files that
    actually contain a matched key are rewritten (surviving neighbors
    carried over), every other file is referenced unchanged, and the
    affected-file list is a driver collect bounded by FILE count. Keys
    absent from the table are a no-op: if nothing matches, NO commit is
    made and the current version is returned unchanged (Iceberg's
    DELETE with an empty scan also produces no new snapshot).

    Prior snapshots still time-travel — the deleted rows remain
    READABLE at older versions until ``expire_snapshots`` +
    ``gc_orphan_files`` physically drop the superseded files; a real
    erasure obligation must run those afterwards. Like merge, the
    rewrite is content-level: ``read_snapshot_diff`` refuses ranges
    crossing it, so incremental consumers re-baseline. A rewrite whose
    every row matched leaves a zero-row survivor file referenced (this
    emulation commits whatever the write produced, unlike Iceberg's
    zero-record-file skip); ``compact`` clears such files."""
    base_version = _resolve(path)
    affected, survivors = _rewrite_set(spark, path, base_version, keys, list(key))
    if not affected:
        return base_version
    return commit(
        survivors,
        path,
        mode="merge",
        partition_by=partition_by,
        op_label="delete",
        replace_files=affected,
        # same optimistic-concurrency stance as merge: a concurrent
        # commit since base_version must fail this delete loudly
        expected_parent=base_version,
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 8,
    partition_by: str | None = None,
) -> int:
    """Rewrite the latest snapshot into ~``target_files`` files per
    partition (Iceberg's ``rewrite_data_files`` analog). At crawl scale
    every incremental commit leaves its own small files; a manifest-
    planned scan then pays per-file open/footer costs that dwarf the
    reads — the classic small-files problem. Compaction is just another
    commit (``replace_all``), so readers switch atomically and older
    snapshots still time-travel until ``expire_snapshots``."""
    # a plain repartition(N): each of the N tasks holds a mix of
    # partition values, so the partitioned write emits AT MOST N files
    # per partition value. (repartition(N, partition_by) would instead
    # hash each value to ONE task — a single giant file and a straggler
    # for a dominant partition.)
    df = read_snapshot(spark, path).repartition(target_files)
    return commit(
        df, path, mode="replace_all", partition_by=partition_by, op_label="compact"
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    small_bytes: int = 8 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: str | None = None,
) -> int:
    """Bin-pack compaction (Iceberg ``rewrite_data_files`` with the
    binpack strategy): rewrite ONLY the data files smaller than
    ``small_bytes`` into ~``target_bytes`` outputs, referencing every
    adequately-sized file unchanged. This is the variant that survives
    crawl scale: a 100 TB table accretes small files at its ingest
    frontier while the compacted bulk is already right-sized — a full
    ``compact()`` rewrite is O(table) every maintenance run, this is
    O(small files). Published as a merge commit (the same CoW machinery
    as ``merge_pages``), so readers switch atomically, prior snapshots
    still time-travel, a concurrent writer fails the commit loudly, and
    incremental-diff consumers are refused across it (their watermark
    must re-baseline, as across any content rewrite).

    No-op (current head returned, no new version) when fewer than two
    small files exist — nothing to pack."""
    if small_bytes <= 0 or target_bytes <= 0:
        raise ValueError("small_bytes and target_bytes must be positive")
    head = _head_version(path)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = _load_manifest(path, head)
    sizes = {f: os.path.getsize(f) for f in m["files"]}
    small = sorted(f for f, s in sizes.items() if s < small_bytes)
    if len(small) < 2:
        return head
    total = sum(sizes[f] for f in small)
    # parquet bytes on disk ≈ rewritten bytes (same codec); one output
    # file per target_bytes of input, at least one
    n_out = max(1, -(-total // target_bytes))
    df = _read_files(spark, path, small, schema_json=m["schema"])
    # coalesce, not repartition: packing needs no shuffle, only fewer
    # write tasks; with a partition column the writer still splits per
    # value under each task
    return commit(
        df.coalesce(n_out),
        path,
        mode="merge",
        partition_by=partition_by,
        op_label="compact_binpack",
        replace_files=small,
        expected_parent=head,
    )


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and DELETE data
    files no surviving manifest references — the deferred physical
    delete that logical overwrites/compactions rely on (Iceberg's
    ``expire_snapshots``). Returns counts for observability."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    # every ref'd snapshot (branch heads, tags, a rolled-back main) is
    # protected regardless of age — expiring a tag's manifest would
    # break its read contract; drop_ref first to release it
    protected = {r["version"] for r in list_refs(path).values()}
    keep_set = set(versions[-keep_last:]) | (protected & set(versions))
    keep = [v for v in versions if v in keep_set]
    drop = [v for v in versions if v not in keep_set]
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load_manifest(path, v)["files"])
    # delete ONLY files the expired manifests referenced (minus those a
    # kept manifest still needs) — never "any unreferenced parquet":
    # commit() writes data BEFORE publishing its manifest, so a blanket
    # sweep would destroy an in-flight commit's files (orphans from
    # crashed commits are ``gc_orphan_files``'s age-gated job)
    droppable: set[str] = set()
    for v in drop:
        droppable.update(_load_manifest(path, v)["files"])
    droppable -= referenced
    # remove the expired manifests FIRST: a crash mid-expiry then leaves
    # only harmless orphan bytes, never a live-looking manifest pointing
    # at deleted files
    for v in drop:
        os.remove(os.path.join(_snap_dir(path), f"v{v}.json"))
    n_deleted = 0
    for f in sorted(droppable):
        if os.path.exists(f):
            os.remove(f)
            n_deleted += 1
    # prune now-empty commit dirs
    data_root = _data_dir(path)
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        full = os.path.join(data_root, d)
        if os.path.isdir(full) and not _list_parquet(full):
            import shutil

            shutil.rmtree(full, ignore_errors=True)
    return {"expired_versions": drop, "kept_versions": keep, "files_deleted": n_deleted}


def gc_orphan_files(path: str, grace_seconds: float = 3 * 24 * 3600) -> dict:
    """Age-based orphan GC (Iceberg's ``remove_orphan_files`` analog) —
    the companion ``expire_snapshots`` explicitly defers to: delete data
    files under the table that NO live manifest references and whose
    mtime is older than ``grace_seconds``. Orphans come from two real
    sources at crawl scale: a commit that crashed between writing bytes
    and publishing its manifest, and the LOSING side of a concurrent-
    commit conflict (``commit`` publishes with an exclusive link; the
    loser's commit dir is never referenced by any manifest).

    The grace period is the safety contract: commit() writes data
    BEFORE publishing, so a zero-grace sweep racing a live writer would
    destroy its about-to-be-published files. Run from a maintenance
    job with a grace comfortably above the longest commit, never inline
    with writers. Returns counts for observability."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    live: set[str] = set()
    for v in versions:
        live.update(_load_manifest(path, v)["files"])
    now = time.time()
    n_deleted = n_in_grace = 0
    for f in _list_parquet(_data_dir(path)):
        if f in live:
            continue
        if now - os.path.getmtime(f) < grace_seconds:
            n_in_grace += 1
            continue
        os.remove(f)
        n_deleted += 1
    # prune commit dirs emptied by the sweep (same rule as expiry)
    data_root = _data_dir(path)
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        full = os.path.join(data_root, d)
        if os.path.isdir(full) and not _list_parquet(full):
            import shutil

            shutil.rmtree(full, ignore_errors=True)
    return {
        "files_deleted": n_deleted,
        "skipped_in_grace": n_in_grace,
        "live_files": len(live),
    }


# --- zone-map data skipping ----------------------------------------------------
# Stats are restricted to parquet physical types whose footer min/max
# is EXACT (INT32/INT64/FLOAT/DOUBLE — covering ints, longs, floats,
# doubles, dates, timestamps). String/byte stats are deliberately
# excluded: parquet writers may TRUNCATE long binary min/max values,
# and a truncated max understates the file's range — pruning on it
# could silently drop matching rows. Exclusion only costs pruning
# opportunity, never correctness (the residual row filter always runs).
_ZONE_PHYSICAL = ("INT32", "INT64", "FLOAT", "DOUBLE")


def _zone_value(v):
    """Footer stat / predicate bound -> (family, value) in the one
    JSON-safe comparison domain per type FAMILY: finite ints and floats
    pass through as ("num", v), timestamps become ("ts",
    exact-integer-epoch-MICROseconds) (integer timedelta division,
    never a float round-trip), dates become ("date", days-since-epoch).
    (None, None) = not zone-comparable.

    The family travels with the stored stat and is re-derived from the
    predicate bound at scan time: comparing values across families
    (date-days vs timestamp-micros) would over-SKIP — a silent wrong
    answer — so plan_scan only ever prunes within one family. NaN/inf
    are rejected both because their comparisons are meaningless and
    because json.dump would emit non-standard tokens that break the
    manifest for every strict JSON consumer."""
    import datetime as _dt
    import math

    if isinstance(v, bool):
        return None, None
    if isinstance(v, float):
        return ("num", v) if math.isfinite(v) else (None, None)
    if isinstance(v, int):
        return "num", v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return "ts", (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
            microseconds=1
        )
    if isinstance(v, _dt.date):
        return "date", (v - _dt.date(1970, 1, 1)).days
    return None, None


def _footer_zone_stats(data_file: str) -> dict:
    """{column: [min, max, family]} over ALL row groups of one parquet
    file, from the footer metadata alone. A column earns an entry only
    if every row group has exact-type min/max stats for it, all in one
    type family; anything else (nested paths, strings, missing stats,
    NaN/inf, unconvertible values) is silently absent — absent means
    "never skip on this column"."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(_uri_to_local(data_file)).metadata
    except Exception:
        return {}
    mins: dict = {}
    maxs: dict = {}
    fams: dict = {}
    bad: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            name = c.path_in_schema
            if "." in name or name in bad:
                bad.add(name)
                continue
            st = c.statistics
            if (
                c.physical_type not in _ZONE_PHYSICAL
                or st is None
                or not st.has_min_max
            ):
                bad.add(name)
                continue
            flo, lo = _zone_value(st.min)
            fhi, hi = _zone_value(st.max)
            if flo is None or flo != fhi or fams.setdefault(name, flo) != flo:
                bad.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {n: [mins[n], maxs[n], fams[n]] for n in mins if n not in bad}


def plan_scan(path: str, ranges: dict, version: int | None = None) -> dict:
    """Manifest-level file pruning for ``ranges`` ({column: (lo, hi)},
    inclusive bounds, None = unbounded): returns
    {version, files, skipped, total, schema} where ``files`` is the
    subset of the snapshot's data files whose zone can intersect every
    range. Files without stats for a column are kept — over-keeping is
    free (the scan's residual filter enforces the exact predicate),
    over-skipping would be a wrong answer, so every uncertain case
    keeps. Pure manifest arithmetic: no Spark job, no file opens."""
    v = _resolve(path, version)
    m = _load_manifest(path, v)
    schema_cols = {f["name"] for f in json.loads(m["schema"])["fields"]}
    unknown = sorted(set(ranges) - schema_cols)
    if unknown:
        raise ValueError(f"ranges on columns not in snapshot schema: {unknown}")
    # a bound that doesn't convert (e.g. a string) prunes nothing from
    # its side; the residual filter still applies it exactly. Each
    # bound carries its FAMILY: pruning happens only when it matches
    # the stored stat's family (a date bound against timestamp-micros
    # stats would compare days to micros and over-skip)
    conv = {
        c: (
            _zone_value(lo) if lo is not None else (None, None),
            _zone_value(hi) if hi is not None else (None, None),
        )
        for c, (lo, hi) in ranges.items()
    }
    stats = m.get("stats", {})
    kept = []
    for f in m["files"]:
        fs = stats.get(f, {})
        drop = False
        for c in ranges:
            entry = fs.get(c)
            if not entry or len(entry) != 3:
                continue  # no (or legacy family-less) stats: keep
            fmin, fmax, fam = entry
            (flo, clo), (fhi, chi) = conv[c]
            if flo != fam:
                clo = None
            if fhi != fam:
                chi = None
            if (chi is not None and fmin > chi) or (
                clo is not None and fmax < clo
            ):
                drop = True
                break
        if not drop:
            kept.append(f)
    return {
        "version": v,
        "files": kept,
        "skipped": len(m["files"]) - len(kept),
        "total": len(m["files"]),
        "schema": m["schema"],
    }


def scan_snapshot(
    spark: SparkSession, path: str, ranges: dict, version: int | None = None
) -> DataFrame:
    """Zone-map-pruned snapshot scan: semantically IDENTICAL to
    ``read_snapshot(...).filter(lo <= col <= hi for every range)`` —
    pinned by tests/test_zonemap.py's randomized differential — but
    files whose footer stats cannot match are never handed to Spark at
    all, so at 10^12 rows a clustered point-range query opens a handful
    of files instead of the whole table. The residual filter ALWAYS
    runs (zone maps are a pruning layer, never the predicate)."""
    plan = plan_scan(path, ranges, version)
    df = _read_files(spark, path, plan["files"], schema_json=plan["schema"])
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df


# --- Z-order clustering rewrite ---------------------------------------------
#
# Zone maps only prune what the LAYOUT localizes: after an append-order
# or hash-distributed write, every file spans nearly the full value
# range of every column and plan_scan keeps everything. Iceberg's
# answer is `rewrite_data_files` with a z-order sort; this is that
# maintenance op for the snapshot tables — rewrite the latest snapshot
# ordered by the bit-interleaving of the clustered columns, so EACH
# clustered column becomes range-localized per file and point/range
# queries on ANY of them prune (a lexicographic sort would localize
# only the leading column).
#
# The z-key is exact integer arithmetic end to end: each column is
# min-max scaled to ``bits`` bits with int64 math (no floats, no
# sampling), then bit-interleaved. Min-max scaling keeps the key
# deterministic and cross-run stable; heavily skewed columns get
# uneven cells (rank-based scaling would fix that at the cost of one
# global sort per column) — acceptable for a maintenance rewrite whose
# correctness never depends on cell balance: plan_scan prunes on the
# REAL footer stats of whatever layout results, and the residual
# filter always runs.


def _zorder_key(scaled: list, bits: int):
    """int64 z-value: interleave the ``bits``-bit scaled images (column
    i's bit b lands at position b*k + (k-1-i), so column order only
    sets tie-breaking significance)."""
    k = len(scaled)
    if bits * k > 62:
        raise ValueError(f"bits*len(cols) = {bits * k} exceeds int64 (max 62)")
    z = F.lit(0).cast("long")
    for ci, c in enumerate(scaled):
        for b in range(bits):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + (k - 1 - ci)))
    return z


def cluster_snapshot(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_files: int = 8,
    partition_by: str | None = None,
) -> int:
    """Rewrite the latest snapshot z-ordered on integral columns
    ``cols`` into ~``target_files`` range-partitioned files (Iceberg
    ``rewrite_data_files`` + z-order sort analog). Another ``replace_all``
    commit: readers switch atomically, prior snapshots still
    time-travel until ``expire_snapshots``. Returns the new version."""
    if not cols:
        raise ValueError("cluster_snapshot needs at least one column")
    # plan against an explicit head and commit with expected_parent, so
    # a concurrent append landing mid-rewrite fails THIS maintenance job
    # loudly instead of being silently erased by the replace_all (same
    # race discipline as delete_pages / compact_small_files)
    head = _head_version(path)
    df = read_snapshot(spark, path, version=head)
    for c in cols:
        dt = dict(df.dtypes).get(c)
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"z-order column {c!r} must be integral, got {dt!r} "
                "(derive an integral image first: unix_micros for "
                "timestamps, a hash prefix for strings)"
            )
    # exact per-column bounds: one tiny agg, broadcast alongside
    bounds = df.agg(
        *[F.min(c).alias(f"_zmin_{c}") for c in cols],
        *[F.max(c).alias(f"_zmax_{c}") for c in cols],
    )
    # min-max scale in pure int64: `div`, never `/` — double division
    # loses low bits once intermediates cross 2^53 (the packed-key
    # pitfall PERF.md records for dedup_winnow). DIVIDE-FIRST form:
    # scaled = (v - min) div step with step = range div 2^bits + 1 —
    # multiply-first ((v-min)*top) overflows int64 once the column
    # range exceeds ~2^(63-bits) (e.g. unix_micros spanning >4.5 years
    # at bits=16), which under Spark 4's default ANSI mode aborts the
    # rewrite. step maps (v-min) ∈ [0, range] onto [0, 2^bits - 1]
    # exactly when range < 2^bits (step=1) and monotonically otherwise.
    scaled = [
        F.expr(
            f"(CAST({c} AS BIGINT) - _zmin_{c}) div "
            f"((CAST(_zmax_{c} - _zmin_{c} AS BIGINT) div CAST({1 << bits} AS BIGINT)) + 1)"
        )
        for c in cols
    ]
    z = _zorder_key(scaled, bits)
    clustered = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_zkey", z)
        .repartitionByRange(target_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *[f"_zmin_{c}" for c in cols], *[f"_zmax_{c}" for c in cols])
    )
    return commit(
        clustered, path, mode="replace_all", partition_by=partition_by,
        op_label="cluster", expected_parent=head,
    )
