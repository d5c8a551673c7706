"""The local-fs commit seam: every piece of landed or streamed state
is built where no reader looks and published with one atomic rename.
Incremental state has exactly two commit shapes, plus the stream drain:

- `land_once` / `publish_dir`: anything built once per key, including
  folds done while it is built (the reference's pickle-memo
  short-circuit, miletos/main.py:8706-8714). A memo directory lives
  under `tempfile.gettempdir()`, keyed by md5(tag | source path |
  source identity); identity is (mtime_ns, size) for a file and the
  sorted (relpath, mtime_ns, size) of every file under a directory, so
  an in-place rewrite inside a directory source changes the key. A
  directory that exists is complete and is never written again:
  `build(tmp)` runs on a private `<root>.<pid>.<uuid4>.tmp` sibling,
  and one `os.rename` publishes it. A build killed or failed mid-write
  therefore leaves no root, and the next call rebuilds (and removes
  the tmp of any builder whose pid is dead); of two concurrent
  builders the first rename wins and the second discards its copy.
  `overwrite` renames the old root aside, the new one in, then deletes
  the old one; if the second rename raises, the old root goes back.
  Only a killed process leaves the old root aside (and no root, if
  killed between the renames: the next call rebuilds); the next
  overwrite of that root removes it.
- `fold_partitions_versioned`: the one versioned store for a table
  that is folded into across calls (the reference's append-with-dedup
  results table, miletos/main.py:12458-12539). Each fold writes a new
  version directory, hardlinks the untouched partitions of the
  committed one, and commits by rewriting one pointer marker that also
  logs the fold's batch tag, so a replayed tag is a no-op.
- `drain_committed` / `read_committed`: exactly-once output per
  micro-batch for every `foreachBatch` writer — write `out_dir/b=<id>`,
  then one marker `state_dir/commits/<id>`; a replay is skipped only
  if its input manifest matches the marker's, and readers see
  `b ≤ last committed` only.

All three commit through `write_marker` (a private tmp file and
`os.replace`) or one `os.rename`, so a crash at any point leaves either
the old state or the new one, and resuming applies each build, fold or
batch exactly once (the tests' `crash_sweep` fixture crashes every
writer at every such call).

Cluster-scale mapping (the documented deployment shape, not emulated
here): the memo publish is a write to a staging prefix plus one
committed table version; the versioned fold is a Delta/Iceberg commit
whose snapshot re-references unchanged files, with the batch tag as the
idempotent writer txn id; the drain marker is the same commit with the
batch id as the txn id. The local forms have identical crash semantics
on a single node.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# A versioned store keeps its committed version and the one before it
# (hardlinks make the pruning safe: the new version's files are the same
# inodes), under one pointer marker.
KEEP_VERSIONS = 2
POINTER_NAME = "_current.json"

# partition values Spark lands verbatim (no escapePathName rewriting).
# fullmatch, not match-with-$: Python's $ also matches before a trailing
# newline, and Spark escapes '\n' in partition dirs.
_PART_SAFE = re.compile(r"[A-Za-z0-9._-]+")


def write_marker(path: str, payload: object = None) -> str:
    """Atomically publish a JSON marker: write to a private
    `<path>.<uuid4>.tmp` then `os.replace` — readers see the old marker,
    no marker, or the complete new one, never a torn file, and two
    writers of one path never share a tmp. A write that raises removes
    its tmp; only a killed process leaves one. Returns `path`."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise
    return path


def _identity(src: str) -> object:
    """What a memo key records of its source: (mtime_ns, size) for a
    file, the sorted (relpath, mtime_ns, size) of every file under a
    directory, None when the source is missing."""
    if os.path.isdir(src):
        files = []
        for d, _, names in os.walk(src):
            for n in names:
                st = os.stat(os.path.join(d, n))
                rel = os.path.relpath(os.path.join(d, n), src)
                files.append((rel, st.st_mtime_ns, st.st_size))
        return sorted(files)
    try:
        st = os.stat(src)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _sweep_orphans(root: str) -> None:
    """Remove the `<root>.<pid>.<uuid4>.tmp` siblings of builders whose
    pid no longer exists (a SIGKILLed build never reaches its cleanup)
    and, while `root` is published, every `<root>.<uuid4>.old` sibling
    (an overwritten root whose delete never ran)."""
    parent, base = os.path.split(root)
    tmp = re.compile(re.escape(base) + r"\.(\d+)\.[0-9a-f]{32}\.tmp")
    old = re.compile(re.escape(base) + r"\.[0-9a-f]{32}\.old")
    try:
        names = os.listdir(parent or ".")
    except FileNotFoundError:
        return
    published = os.path.isdir(root)
    for name in names:
        if published and old.fullmatch(name):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
            continue
        m = tmp.fullmatch(name)
        if m is None:
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def publish_dir(
    root: str, build: "Callable[[str], None]", overwrite: bool = False
) -> str:
    """Build-once publish of the directory `root`: return it at once if
    it exists (a directory that exists is complete) unless `overwrite`;
    otherwise `build(tmp)` writes a private `<root>.<pid>.<uuid4>.tmp`
    sibling, which one `os.rename` moves into place. A build that
    raises leaves `root` as it was and its tmp removed; the tmp of a
    killed builder is removed by the next build, once its pid is dead.
    An overwrite whose second rename raises puts the old root back.
    If another builder published first, this one's copy is discarded
    and the winner's returned. Returns `root`."""
    if os.path.exists(root) and not overwrite:
        return root
    _sweep_orphans(root)
    tmp = f"{root}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
    old = None
    try:
        build(tmp)
        if overwrite and os.path.exists(root):
            old = f"{root}.{uuid.uuid4().hex}.old"
            try:
                os.rename(root, old)
            except FileNotFoundError:  # a concurrent overwrite moved it
                old = None
        try:
            os.rename(tmp, root)
        except BaseException as exc:
            # an OSError with a root in place: another builder won
            if not (isinstance(exc, OSError) and os.path.isdir(root)):
                if old is not None:  # put the old root back
                    with contextlib.suppress(OSError):
                        os.rename(old, root)
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    return root


def land_once(
    tag: str,
    build: "Callable[[str], None]",
    src: str | None = None,
    overwrite: bool = False,
) -> str:
    """The memoized landing: `publish_dir` on a directory under
    `tempfile.gettempdir()` keyed by md5(tag | abspath(src) |
    identity(src)). `tag` names the recipe (bump it when the build
    changes); `src` is the input whose change must invalidate the
    landing (None for a synthetic, recipe-only landing)."""
    sig = tag
    if src is not None:
        sig = f"{tag}|{os.path.abspath(src)}|{_identity(src)}"
    key = hashlib.md5(sig.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"miletos_index_{key}")
    return publish_dir(root, build, overwrite)


def read_marker(path: str) -> object | None:
    """The marker's payload, or None when it was never committed."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def last_committed(state_dir: str) -> int:
    """The highest batch id committed under `state_dir/commits`, or -1.
    A failed batch is retried under the same id before any higher id
    runs, so the committed ids are a prefix."""
    d = os.path.join(state_dir, "commits")
    if not os.path.isdir(d):
        return -1
    return max((int(x) for x in os.listdir(d) if x.isdigit()), default=-1)


def committed_payload(state_dir: str, batch_id: int) -> object | None:
    """Marker `batch_id`'s payload; None when missing or unreadable
    (a torn pre-atomic marker, a transient fs error)."""
    try:
        return read_marker(os.path.join(state_dir, "commits", str(batch_id)))
    except (OSError, ValueError):
        return None


def _batch_manifest(state_dir: str, batch_id: int) -> list | None:
    """The sorted input files of `batch_id` from the file source's own
    batch log, which is written before the batch executes (a
    foreachBatch frame's `inputFiles()` is empty)."""
    d = os.path.join(state_dir, "ckpt", "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(d, name)
        if not os.path.exists(p):
            continue
        with open(p) as f:
            entries = [json.loads(ln) for ln in f if ln.startswith("{")]
        return sorted(
            o["path"] for o in entries if o.get("batchId", batch_id) == batch_id
        )
    return None


# how long a drain may run before `drain_committed` raises
DRAIN_TIMEOUT_SEC = 300


def drain_committed(
    src: DataFrame,
    out_dir: str,
    state_dir: str,
    write: "Callable[[DataFrame, str, int], dict | None]",
) -> None:
    """Drain the file stream `src` (availableNow, checkpoint under
    `state_dir/ckpt`) with one commit per micro-batch. A new batch goes
    to `write(batch, path, last)`, which overwrites `path` =
    `out_dir/b=<id>` (a retry rewrites its own orphan) and may read
    committed state up to batch `last`; once it returns, the marker
    `state_dir/commits/<id>` = `{"files": manifest, **payload}`
    commits the batch. A replayed committed id is a no-op only if its
    manifest equals the marker's (a bare-list marker is the manifest);
    otherwise — a fresh checkpoint or a changed trigger size
    renumbered the batches — the drain raises rather than skip
    uncommitted input."""
    from miletos_spark.streaming.stateful import await_drain

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        last = last_committed(state_dir)
        if batch_id <= last:
            want = committed_payload(state_dir, batch_id)
            if isinstance(want, dict):
                want = want.get("files")
            got = _batch_manifest(state_dir, batch_id)
            if want is None or got is None or want != got:
                raise RuntimeError(
                    f"batch {batch_id} under {state_dir} is marked "
                    "committed but its input manifest differs "
                    f"(committed {want!r} vs replayed {got!r}) — the "
                    "checkpoint and state_dir are misaligned (fresh "
                    "checkpoint? changed maxFilesPerTrigger?); refusing "
                    "to skip uncommitted input"
                )
            return
        payload = write(bdf, os.path.join(out_dir, f"b={batch_id}"), last)
        write_marker(
            os.path.join(state_dir, "commits", str(batch_id)),
            {"files": _batch_manifest(state_dir, batch_id), **(payload or {})},
        )

    q = (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, out_dir, DRAIN_TIMEOUT_SEC)


def read_committed(
    spark: SparkSession, out_dir: str, state_dir: str, schema: str
) -> DataFrame:
    """The rows `drain_committed` committed under `out_dir` (`b ≤ last
    committed`), read with the explicit `schema`: no inference job, and
    no crashed attempt's uncommitted dir."""
    last = last_committed(state_dir)
    if last < 0:
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("basePath", out_dir)
        .schema(f"{schema}, b int")
        .parquet(out_dir)
        .filter(F.col("b") <= F.lit(last))
        .drop("b")
    )


def _link_tree(src: str, dst: str) -> None:
    """Re-reference `src`'s files under `dst` via hardlinks (copy on
    cross-device) — the local-fs emulation of a table snapshot
    re-referencing unchanged data files."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def fold_partitions_versioned(
    rows: DataFrame,
    store_root: str,
    part_col: str,
    touched: "Iterable[int | str]",
    batch_tag: str,
) -> "tuple[str, bool]":
    """Fold `rows` (the full new content of every `touched` partition)
    into the versioned partitioned store under `store_root` in
    O(touched), never O(table), exactly once per `batch_tag`.

    The new version directory hardlinks every untouched partition dir
    of the committed version and writes only the touched partitions
    fresh; one `write_marker` of the pointer then commits the version
    and appends `batch_tag` to the applied-batch log it carries. A
    committed version's files are never modified, so `rows` may derive
    from it without an eager pin, and a crash before the pointer write
    leaves it as the committed state: the resume clears the partial
    build and rebuilds the same version from unchanged inputs. After
    the pointer write a replayed `batch_tag` is a no-op. Touched
    partitions absent from `rows` (drained) are simply never linked.

    Touched values must land verbatim as `part_col=value` dir names
    (plain ints or [A-Za-z0-9._-]+ strings): a value Spark escapes would
    be both hardlinked from the old version and written fresh,
    duplicating its rows, so it raises instead. Versions more than
    `KEEP_VERSIONS` behind are pruned after the commit; the log keeps
    the latest 256 tags, since a replay is of a recent batch.

    Returns (committed data dir, applied?) — applied=False when
    `batch_tag` was already in the log."""
    touched = [t for t in touched]
    for t in touched:
        if not _PART_SAFE.fullmatch(str(t)):
            raise ValueError(
                f"partition value {t!r} needs path escaping — {part_col} "
                "values must be plain ints or [A-Za-z0-9._-]+ strings"
            )
    pointer_path = os.path.join(store_root, POINTER_NAME)
    cur = read_marker(pointer_path)
    batches = list(cur["batches"]) if cur else []
    if batch_tag in batches:
        return os.path.join(store_root, cur["version"]), False
    n = int(cur["version"][1:]) if cur else -1
    version = f"v{n + 1}"
    target = os.path.join(store_root, version)
    if os.path.exists(target):  # partial build of a crashed fold
        shutil.rmtree(target)
    os.makedirs(target)
    touched_names = {f"{part_col}={t}" for t in touched}
    if cur is not None:
        prev = os.path.join(store_root, cur["version"])
        for name in os.listdir(prev):
            if name.startswith(f"{part_col}=") and name not in touched_names:
                _link_tree(os.path.join(prev, name), os.path.join(target, name))
    rows.repartition(part_col).write.mode("append").partitionBy(
        part_col
    ).parquet(target)
    write_marker(
        pointer_path,
        {"version": version, "batches": (batches + [batch_tag])[-256:]},
    )
    for i in range(max(0, n + 2 - KEEP_VERSIONS)):
        shutil.rmtree(os.path.join(store_root, f"v{i}"), ignore_errors=True)
    return target, True


def current_fold_version(store_root: str) -> str | None:
    """The committed data dir of a `fold_partitions_versioned` store,
    or None before the first fold."""
    cur = read_marker(os.path.join(store_root, POINTER_NAME))
    if cur is None:
        return None
    return os.path.join(store_root, cur["version"])
