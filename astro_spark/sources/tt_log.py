"""The versioned-table log: on-disk layout, manifest bodies, read-side
decisions and the commit protocol — the ONE module that knows the
format.  ``operators/timetravel.py`` (the engine's ``tt_*`` API, driver
side) and ``sources/tt_datasource.py`` (the ``versioned_parquet`` data
source, whose commit runs in a Python worker with no JVM) both go
through it, so the two can never drift.  Stdlib + pyarrow only.

Layout::

    <root>/
      _log/v00000000.json          # {"files": [...], "op", "ts", "schema"}
      _log/v00000001.json          # or {"base": ckpt, "add": [...], "remove": [...]}
      _log/ckpt-<uuid>.parquet     # checkpoint: complete (file, stats) snapshot
      files/<commit-uuid>/part-*.parquet   # immutable data files

Every commit writes its NEW data files under a fresh ``files/<uuid>/``
directory (existing files are never touched — writers never conflict on
data), then publishes a manifest resolving to the version's COMPLETE
file list.  Readers resolve a version to its manifest and read exactly
those files; data files with no manifest pointing at them are invisible
(a crashed writer leaves garbage, never corruption — ``vacuum`` reclaims
it).

**Checkpointed log (Delta's checkpoint model):** small tables keep the
complete file list INLINE in the JSON manifest.  Once a version's file
count exceeds ``inline_max`` (``spark.astro.tt.inlineFilesMax``, default
1000), the snapshot moves into a parquet CHECKPOINT (one (file, stats)
row per data file, written driver-side via Arrow — no Spark job) and
manifests carry only ``base`` (the checkpoint ref) plus inline
``add``/``remove`` deltas.  When the delta tail itself outgrows the
knob, the commit compacts: resolves the full list and writes a fresh
checkpoint.  So on a long-lived 100 TB table (10⁵–10⁶ files, thousands
of commits) an append costs O(new files) JSON, a read costs one tiny
JSON + one columnar checkpoint scan, and history never parses a file
list at all (``n_files`` rides in every manifest header).

**Commit point:** ``publish`` is an atomic put-if-absent of the version
manifest.  Two writers racing for version N: one wins, the loser gets
``ConcurrentWriteError`` and retries against the new state (``commit``
for appends — their file list is state-independent; ``publish_cow`` for
copy-on-write rewrites, with file-level conflict resolution).

**Byte I/O** goes through a *store* bound to one table root, with four
primitives that know nothing about the format: ``list_names(rel)``,
``read_bytes(rel)``, ``write_bytes(rel, data)`` and
``create_exclusive(rel, data)`` (raises ``FileExistsError`` when the
name is taken; the content is complete from its first visible
instant).  ``ArrowStore`` here serves local roots and whatever
``pyarrow.fs.FileSystem.from_uri`` reaches; the Hadoop store in
``operators/timetravel.py`` serves the Hadoop-only schemes
(``s3a://``, ``abfss://``, ``hdfs://``).
"""

from __future__ import annotations

import errno
import io
import json
import os
import time
import uuid

from ..exceptions import AstroSparkError, ConcurrentWriteError

LOG = "_log"
_PAD = 8

#: default snapshot size above which a manifest's file list moves into
#: a parquet checkpoint (``spark.astro.tt.inlineFilesMax``)
INLINE_MAX = 1000

# Hive-style layout prefix for engine-written partitioned commits: the
# partition column is DUPLICATED into a `__p_<col>` path column before
# partitionBy, so the real column stays physically in the data files
# (reads remain plain explicit-file-list scans — no path inference, no
# mixed-depth basePath conflicts) while files still split one-partition-
# value-per-file, giving exact per-file [v, v] skipping bounds.
PART_PREFIX = "__p_"


# -- layout ------------------------------------------------------------------


def manifest_ref(version: int) -> str:
    """Root-relative path of a version's manifest."""
    return f"{LOG}/v{version:0{_PAD}d}.json"


def is_checkpoint(name: str) -> bool:
    """True for the base name of a checkpoint file under ``LOG``."""
    return name.startswith("ckpt-") and name.endswith(".parquet")


def new_commit_dir() -> str:
    """Root-relative directory for one commit's new data files."""
    return f"files/{uuid.uuid4().hex}"


def is_external(entry: str) -> bool:
    """Manifest file entries are root-relative (``files/<uuid>/...``)
    EXCEPT for shallow-clone references, which are absolute paths/URIs
    into another table's root.  External entries are readable but never
    vacuum-deleted (they belong to the source table)."""
    return entry.startswith("/") or "://" in entry


def abs_path(root: str, entry: str) -> str:
    """Absolute path/URI of a manifest entry."""
    return entry if is_external(entry) else f"{root.rstrip('/')}/{entry}"


def local_path(root: str) -> str | None:
    """Absolute local path of ``root`` (a plain path or ``file:`` URI),
    or None when it names a non-local filesystem."""
    if root.startswith("file:"):
        return os.path.abspath("/" + root[5:].lstrip("/"))
    if "://" in root:
        return None
    return os.path.abspath(root)


def arrow_fs(root: str):
    """(pyarrow FileSystem, path) for a root or file path/URI."""
    from pyarrow import fs as pafs

    local = local_path(root)
    if local is not None:
        return pafs.LocalFileSystem(), local
    return pafs.FileSystem.from_uri(root)


# -- stores ------------------------------------------------------------------


def _no_hardlinks(exc: OSError) -> bool:
    """link(2) failed because the mount cannot hard-link at all."""
    return isinstance(exc, PermissionError) or exc.errno in (
        errno.ENOTSUP,
        errno.EOPNOTSUPP,
    )


def _link_publish(target: str, data: bytes) -> None:
    """Put-if-absent of ``target`` WITH its content (r14): the former
    O_CREAT|O_EXCL-then-write claimed the slot atomically but exposed a
    zero-length file to concurrent readers until the write landed (a
    reader racing the commit got JSONDecodeError — caught by the
    linearizability property test), and a writer crash in the window
    would wedge the version slot.  Write the full payload to a hidden
    temp name first, then ``os.link`` it into place: link(2) fails
    EEXIST atomically and the file carries complete content from its
    first visible instant (works on local and NFS)."""
    folder, name = os.path.split(target)
    os.makedirs(folder, exist_ok=True)
    tmp = f"{folder}/.{name}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(data)
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise
    except OSError as exc:
        if not _no_hardlinks(exc):
            raise  # ENOSPC, EIO, ...: a real failure, not a missing feature
        # Mounts without hard-link support (SMB/FAT/some FUSE) raise
        # EPERM/ENOTSUP from link(2) (ADVICE r14): fall back to the old
        # O_CREAT|O_EXCL open — the empty-file exposure window is the
        # prior status quo on exactly those filesystems.
        with open(target, "xb") as fh:
            fh.write(data)
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass


class ArrowStore:
    """Log byte I/O through pyarrow.  Local roots publish with
    ``os.link`` put-if-absent; other pyarrow filesystems have no atomic
    create, so they serve reads only."""

    def __init__(self, root: str):
        self.root = root
        self._fs, self._base = arrow_fs(root)
        self._local = local_path(root)

    def _path(self, rel: str) -> str:
        return f"{self._base.rstrip('/')}/{rel}"

    def list_names(self, rel: str) -> list[str]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self._path(rel), allow_not_found=True)
        return [info.base_name for info in self._fs.get_file_info(sel)]

    def read_bytes(self, rel: str) -> bytes:
        with self._fs.open_input_stream(self._path(rel)) as stream:
            return stream.read()

    def write_bytes(self, rel: str, data: bytes) -> None:
        path = self._path(rel)
        self._fs.create_dir(path.rsplit("/", 1)[0], recursive=True)
        with self._fs.open_output_stream(path) as stream:
            stream.write(data)

    def create_exclusive(self, rel: str, data: bytes) -> None:
        if self._local is None:
            raise NotImplementedError(
                f"no atomic put-if-absent on {self.root!r} through pyarrow"
            )
        _link_publish(f"{self._local}/{rel}", data)


# -- log I/O -----------------------------------------------------------------


def list_versions(store) -> list[int]:
    out = []
    for name in store.list_names(LOG):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def read_manifest(store, version: int) -> dict:
    return json.loads(store.read_bytes(manifest_ref(version)).decode("utf-8"))


def head(store) -> tuple[int, dict]:
    versions = list_versions(store)
    if not versions:
        raise AstroSparkError(f"no versioned table at {store.root}")
    return versions[-1], read_manifest(store, versions[-1])


def publish(store, version: int, manifest: dict) -> None:
    """Atomic put-if-absent of the version manifest — the commit point.

    The manifest must appear atomically WITH its content (r14): the
    former create-then-write claimed the slot atomically but exposed a
    zero-length file to concurrent readers until the JSON landed (a
    racing reader got JSONDecodeError — the linearizability property
    test caught it), and a writer crash inside the window would wedge
    the slot with an empty manifest.  The store's ``create_exclusive``
    gives exactly that guarantee; a taken slot surfaces as
    ``ConcurrentWriteError``."""
    try:
        store.create_exclusive(
            manifest_ref(version), json.dumps(manifest).encode("utf-8")
        )
    except FileExistsError as exc:
        raise ConcurrentWriteError(
            f"version {version} was committed by another writer"
        ) from exc


def write_checkpoint(store, files: list[str], stats: dict) -> str:
    """Write the complete (file, stats) snapshot as a parquet checkpoint
    under _log/ and return its root-relative ref.  Driver-side Arrow —
    a log-maintenance write must not cost a Spark job.  The checkpoint
    is invisible until a manifest referencing it publishes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rel = f"{LOG}/ckpt-{uuid.uuid4().hex}.parquet"
    table = pa.table(
        {
            "file": pa.array(files, type=pa.string()),
            "stats": pa.array(
                [json.dumps(stats[f]) if f in stats else None for f in files],
                type=pa.string(),
            ),
        }
    )
    buf = io.BytesIO()
    pq.write_table(table, buf)
    store.write_bytes(rel, buf.getvalue())
    return rel


def _read_checkpoint(store, rel: str) -> tuple[list[str], dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(io.BytesIO(store.read_bytes(rel)))
    files = t.column("file").to_pylist()
    raw = t.column("stats").to_pylist()
    stats = {f: json.loads(s) for f, s in zip(files, raw) if s is not None}
    return files, stats


def resolve(store, manifest: dict) -> tuple[list[str], dict]:
    """(complete file list, per-file stats) of a manifest — inline form
    verbatim; checkpoint form = base snapshot minus ``remove`` plus
    ``add``.  One checkpoint read per plan, Delta's cost profile."""
    if "base" not in manifest:
        return manifest.get("files") or [], manifest.get("stats") or {}
    files, stats = _read_checkpoint(store, manifest["base"])
    rm = set(manifest.get("remove") or [])
    if rm:
        files = [f for f in files if f not in rm]
        stats = {f: s for f, s in stats.items() if f not in rm}
    files = files + (manifest.get("add") or [])
    stats.update(manifest.get("add_stats") or {})
    return files, stats


# -- manifest bodies ---------------------------------------------------------


def _carry_stats(manifest: dict, files: list[str], new_stats: dict) -> dict:
    """Stats for a new manifest: carried-over files keep their recorded
    ranges, new files contribute theirs; files with no stats are simply
    absent (the reader keeps them — absence is never evidence)."""
    old = manifest.get("stats") or {}
    kept = {f: old[f] for f in files if f in old}
    kept.update(new_stats)
    return kept


def body_full(store, files: list[str], stats: dict, inline_max: int) -> dict:
    """File-list body for a commit whose COMPLETE snapshot is known
    (create/overwrite/optimize, and compactions): inline while small,
    checkpoint ref beyond the knob."""
    if len(files) <= inline_max:
        body: dict = {"files": files, "n_files": len(files)}
        if stats:
            body["stats"] = stats
        return body
    ref = write_checkpoint(store, files, stats)
    return {"base": ref, "add": [], "remove": [], "n_files": len(files)}


def body_delta(
    store,
    prev: dict,
    added: list[str],
    removed: list[str],
    added_stats: dict,
    inline_max: int,
) -> dict:
    """File-list body for an incremental commit (append/merge/delete):
    O(delta) JSON on a checkpointed table — prev's base carries over,
    the delta tail grows by this commit's add/remove — compacting into
    a fresh checkpoint only when the tail outgrows the knob."""
    rm = set(removed)
    if "base" in prev:
        prev_add = prev.get("add") or []
        add = [f for f in prev_add if f not in rm] + added
        prev_add_set = set(prev_add)
        remove = (prev.get("remove") or []) + [
            f for f in removed if f not in prev_add_set
        ]
        n_files = int(prev["n_files"]) - len(removed) + len(added)
        if len(add) + len(remove) <= inline_max:
            add_set = set(add)
            add_stats = {
                f: s
                for f, s in {**(prev.get("add_stats") or {}), **added_stats}.items()
                if f in add_set
            }
            body: dict = {
                "base": prev["base"],
                "add": add,
                "remove": remove,
                "n_files": n_files,
            }
            if add_stats:
                body["add_stats"] = add_stats
            return body
        files, stats = resolve(store, prev)
        files = [f for f in files if f not in rm] + added
        stats = {f: s for f, s in stats.items() if f not in rm}
        stats.update(added_stats)
        return body_full(store, files, stats, inline_max)
    kept = [f for f in (prev.get("files") or []) if f not in rm]
    files = kept + added
    stats = _carry_stats(prev, kept, added_stats)
    return body_full(store, files, stats, inline_max)


def copy_body(manifest: dict) -> dict:
    """The file-list body fields of an existing manifest, verbatim —
    checkpoint refs are immutable, so RESTORE and metadata-only commits
    may share them by reference."""
    return {
        k: manifest[k]
        for k in ("files", "stats", "base", "add", "remove", "add_stats", "n_files")
        if k in manifest
    }


# -- table metadata carried across commits ----------------------------------

#: a manifest's schema and table-metadata headers, in manifest order
HEADERS = (
    "schema",
    "constraints",
    "stats_cols",
    "partition_cols",
    "generated_cols",
    "properties",
)


def copy_headers(manifest: dict) -> dict:
    """The schema and table-metadata headers of a manifest, verbatim —
    RESTORE and CLONE reinstate a version's whole table definition."""
    return {k: manifest[k] for k in HEADERS if manifest.get(k) is not None}



def stats_cols_of(manifest: dict) -> list[str]:
    """The column set this table records skipping stats for — the
    ``stats_cols`` header when present (checkpointed logs never need a
    file-list read to learn it), else inferred from inline stats for
    pre-header manifests."""
    cols = manifest.get("stats_cols")
    if cols:
        return list(cols)
    old = manifest.get("stats") or {}
    return sorted({c for st in old.values() for c in st})


def partition_cols_of(manifest: dict) -> list[str]:
    """The table's partition columns (empty for unpartitioned tables).
    Partition values are first-class data everywhere EXCEPT adopted
    (``tt_convert``) Hive files, where they live only in paths."""
    return list(manifest.get("partition_cols") or [])


def generated_cols_of(manifest: dict) -> dict:
    """{col: spark-sql expr} of the table's GENERATED columns (Delta's
    ``GENERATED ALWAYS AS``) — typically the partition column of a
    time-partitioned table (``day = date_trunc('DAY', ts)``), so
    ingest never has to pre-derive it."""
    return dict(manifest.get("generated_cols") or {})


def carry_constraints(manifest: dict) -> dict:
    c = manifest.get("constraints")
    return {"constraints": c} if c else {}


def carry_stats_cols(manifest: dict) -> dict:
    cols = stats_cols_of(manifest)
    return {"stats_cols": cols} if cols else {}


def carry_partition(manifest: dict) -> dict:
    p = manifest.get("partition_cols")
    return {"partition_cols": list(p)} if p else {}


def carry_generated(manifest: dict) -> dict:
    g = manifest.get("generated_cols")
    return {"generated_cols": dict(g)} if g else {}


def carry_props(manifest: dict) -> dict:
    p = manifest.get("properties")
    return {"properties": p} if p else {}


def carried(manifest: dict) -> dict:
    """Every table-metadata header a data commit carries forward."""
    return {
        **carry_constraints(manifest),
        **carry_stats_cols(manifest),
        **carry_partition(manifest),
        **carry_generated(manifest),
        **carry_props(manifest),
    }


def cow_extra(manifest: dict) -> dict:
    """Schema + carried metadata for a copy-on-write commit, from the
    snapshot the transaction read."""
    return {
        **(
            {"schema": manifest["schema"]}
            if manifest.get("schema") is not None
            else {}
        ),
        **carried(manifest),
    }


def meta_of(m: dict) -> tuple:
    """The table-metadata fields a rebased commit would silently
    clobber if an interleaved commit changed them — read through the
    NORMALIZED accessors (a v0 manifest stores stats_cols only
    implicitly in its inline stats; later commits materialize the
    header — a representation change, not a conflict) and compared as
    canonical JSON so dict ordering never fakes one either."""
    return (
        json.dumps(m.get("schema"), sort_keys=True),
        json.dumps(m.get("constraints") or {}, sort_keys=True),
        json.dumps(sorted(stats_cols_of(m))),
        json.dumps(partition_cols_of(m)),
        json.dumps(generated_cols_of(m) or {}, sort_keys=True),
        json.dumps(m.get("properties") or {}, sort_keys=True),
    )


def schema_drift(prev_json: str, new_json: str) -> tuple[list[str], list[str]]:
    """(columns a write's schema adds, columns whose type differs) against
    the log's schema — both Spark ``StructType`` JSON.  The LOG, not
    parquet footer merging, owns the schema (Delta's model)."""
    prev = {f["name"]: f["type"] for f in json.loads(prev_json)["fields"]}
    new = json.loads(new_json)["fields"]
    added = [f["name"] for f in new if f["name"] not in prev]
    conflicts = [
        f["name"] for f in new if f["name"] in prev and prev[f["name"]] != f["type"]
    ]
    return added, conflicts


# -- read-side decisions -----------------------------------------------------


def pick_version(store, version: int | None = None, as_of_ts: float | None = None) -> int:
    """The version a read resolves: the latest committed at or before
    ``as_of_ts`` (Delta's ``TIMESTAMP AS OF``), else ``version`` (which
    must exist), else the head.  Callers reject passing both."""
    versions = list_versions(store)
    if not versions:
        raise AstroSparkError(f"no versioned table at {store.root}")
    if as_of_ts is not None:
        eligible = [
            v for v in versions if read_manifest(store, v)["ts"] <= as_of_ts
        ]
        if not eligible:
            raise AstroSparkError(
                f"no version at or before ts={as_of_ts} in {store.root}"
            )
        return eligible[-1]
    if version is None:
        return versions[-1]
    if version not in versions:
        raise AstroSparkError(f"version {version} not found in {store.root}")
    return version


def _typed_partition_value(raw: str):
    """A Hive path value parsed the way Spark's partition inference
    would for the common types (int, float, else string); the Hive
    null sentinel yields None (no skipping bound — absence is never
    evidence)."""
    from urllib.parse import unquote

    v = unquote(raw)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def partition_values(rel: str, partition_cols: list[str]) -> dict:
    """{col: typed value} parsed from a file's ``key=value`` (adopted
    Hive layout) or ``__p_key=value`` (engine layout) path segments."""
    pset = set(partition_cols)
    out: dict = {}
    for seg in rel.split("/")[:-1]:
        k, sep, v = seg.partition("=")
        if not sep:
            continue
        if k.startswith(PART_PREFIX):
            k = k[len(PART_PREFIX):]
        if k in pset:
            out[k] = _typed_partition_value(v)
    return out


def partition_path_stats(files: list[str], partition_cols: list[str]) -> dict:
    """Degenerate per-file [v, v] skipping bounds from path segments —
    a partition value IS a min==max range, so ``tt_read(where=)`` and
    ``skip_by`` prune partitions through the ordinary stats machinery
    with zero extra scans."""
    out: dict = {}
    for f in files:
        vals = partition_values(f, partition_cols)
        entry = {c: [v, v] for c, v in vals.items() if v is not None}
        if entry:
            out[f] = entry
    return out


def path_valued(rel: str, partition_cols: list[str]) -> bool:
    """True when this file's partition values exist ONLY in its path —
    an adopted Hive file (raw ``<col>=`` segment).  Engine-written
    files use ``__p_``-prefixed segments and keep the columns in the
    data, so they read through the ordinary explicit-file-list scan."""
    if is_external(rel):
        return False
    pset = set(partition_cols)
    for seg in rel.split("/")[:-1]:
        k, sep, _v = seg.partition("=")
        if sep and k in pset:
            return True
    return False


def parse_temporal(s):
    """datetime for a canonical date/timestamp string, else None."""
    from datetime import datetime

    if not isinstance(s, str):
        return None
    try:
        return datetime.fromisoformat(s)
    except ValueError:
        return None


def skip_provable(rng, lo, hi) -> bool:
    """True iff a file's recorded [rng] provably cannot intersect
    [lo, hi].  Temporal bounds (stats store date/timestamp ranges as
    their canonical strings) compare in TIME space — a lexicographic
    compare would mis-prune against shorter or non-canonical predicate
    literals ('2024-03-01' vs '2024-03-01 00:00:00'); a predicate
    literal that doesn't parse proves nothing on its side (the file is
    kept — sound)."""
    r0, r1 = rng[0], rng[1]
    t0, t1 = parse_temporal(r0), parse_temporal(r1)
    if t0 is not None and t1 is not None:
        # offset-aware vs naive datetimes (e.g. a manifest written by
        # an older Arrow commit that serialized '+00:00' bounds, read
        # against a naive predicate literal) raise TypeError on <:
        # proves nothing — keep the file (sound)
        try:
            if hi is not None:
                th = parse_temporal(hi)
                if th is not None and t0 > th:
                    return True
            if lo is not None:
                tl = parse_temporal(lo)
                if tl is not None and t1 < tl:
                    return True
        except TypeError:
            return False
        return False
    try:
        if hi is not None and r0 > hi:
            return True
        if lo is not None and r1 < lo:
            return True
    except TypeError:
        # cross-type bound (e.g. a string literal against numeric
        # stats, where SQL would cast): can't prove skippable
        return False
    return False


def prune(files: list[str], stats: dict, bounds: dict) -> list[str]:
    """The files a read keeps under skip ``bounds`` ({col: (lo, hi)},
    either end None = open): a file goes only when its RECORDED
    [min, max] provably misses a bound.  Files without stats are always
    kept (absence is never evidence)."""

    def _keep(f: str) -> bool:
        st = stats.get(f)
        if st is None:
            return True
        for col, (lo, hi) in bounds.items():
            rng = st.get(col)
            if rng is None or rng[0] is None or rng[1] is None:
                continue  # no/NULL-only stats: can't prove skippable
            if skip_provable(rng, lo, hi):
                return False
        return True

    return [f for f in files if _keep(f)]


# -- commits -----------------------------------------------------------------


def commit(
    store,
    new_files: list[str],
    mode: str,
    prepare,
    inline_max: int = INLINE_MAX,
    max_retries: int = 10,
) -> int:
    """Publish ALREADY-WRITTEN data files (root-relative, under
    ``files/``) as one append or overwrite — the single commit core
    behind ``tt_append``, ``tt_commit_files`` and the data source's
    Spark-free commit.

    Each attempt reads the head and calls ``prepare(prev)`` for
    ``(schema_json, new_file_stats)``; ``prev`` is None when no table
    exists yet (the commit then creates version 0 with no stats).
    ``prepare`` raises to refuse the commit — nothing has published.
    Append's intent is state-independent, so a lost race retries
    against the fresh head (data files are written ONCE; only the
    manifest race re-runs); an overwrite surfaces the race, because
    what it meant to replace has changed."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"commit: invalid mode {mode!r}")
    files = sorted(new_files)
    for _ in range(max_retries):
        versions = list_versions(store)
        if not versions:
            schema, _stats = prepare(None)
            version = 0
            manifest = {
                **body_full(store, files, {}, inline_max),
                "op": "create",
                "ts": time.time(),
                "schema": schema,
            }
        else:
            version = versions[-1] + 1
            prev = read_manifest(store, versions[-1])
            schema, stats = prepare(prev)
            body = (
                body_full(store, files, stats, inline_max)
                if mode == "overwrite"
                else body_delta(store, prev, files, [], stats, inline_max)
            )
            manifest = {
                **body,
                "op": mode,
                "ts": time.time(),
                "schema": schema,
                **carried(prev),
            }
        try:
            publish(store, version, manifest)
            return version
        except ConcurrentWriteError:
            if mode == "overwrite" and version > 0:
                raise
    raise ConcurrentWriteError(
        f"{mode} to {store.root} lost {max_retries} commit races"
    )


def publish_cow(
    store,
    head_v: int,
    manifest: dict,
    added: list[str],
    removed: list[str],
    added_stats: dict,
    op: str,
    extra: dict,
    inline_max: int = INLINE_MAX,
    max_retries: int = 10,
) -> int:
    """Commit a copy-on-write rewrite (delete/update/merge/OPTIMIZE
    WHERE) with Delta's WriteSerializable conflict resolution
    (reference semantics: the Databricks backend's MERGEs are
    serializable, ``databases/databricks/delta.py:357-442`` — Delta's
    default isolation resolves conflicts at FILE granularity).

    A lost ``publish`` race does NOT automatically fail: the
    transaction REBASES onto the new head and retries, succeeding iff

    - no interleaved commit removed/rewrote any of THIS transaction's
      target files (``removed``) — since partitioned tables write
      partition-pure files, two writers scoped to disjoint partitions
      always pass this check (partition-level conflict resolution falls
      out of the file-level rule), while two writers rewriting the same
      partition conflict and the loser raises; and
    - no interleaved commit changed table metadata (schema,
      constraints, layout, generated columns, properties).

    Interleaved APPENDs always survive alongside this commit (their
    files carry over through the rebased ``body_delta``) — allowed
    under WriteSerializable: the rewrite operates on its snapshot, the
    append's rows were never in scope."""
    base_meta = meta_of(manifest)
    for _ in range(max_retries):
        new_manifest = {
            **body_delta(store, manifest, added, removed, added_stats, inline_max),
            "op": op,
            "ts": time.time(),
            **extra,
        }
        try:
            publish(store, head_v + 1, new_manifest)
            return head_v + 1
        except ConcurrentWriteError:
            head_v, manifest = head(store)
            if meta_of(manifest) != base_meta:
                raise ConcurrentWriteError(
                    f"{op} on {store.root}: a concurrent commit changed table "
                    "metadata (schema/constraints/layout/properties) — "
                    "re-run against the new snapshot"
                )
            live, _s = resolve(store, manifest)
            live_set = set(live)
            gone = [f for f in removed if f not in live_set]
            if gone:
                raise ConcurrentWriteError(
                    f"{op} on {store.root}: a concurrent commit rewrote "
                    f"{len(gone)} of this transaction's target files "
                    f"(e.g. {gone[0]!r}) — overlapping partition/file "
                    "conflict; re-run against the new snapshot"
                )
    raise ConcurrentWriteError(
        f"{op} on {store.root} lost {max_retries} commit races"
    )
