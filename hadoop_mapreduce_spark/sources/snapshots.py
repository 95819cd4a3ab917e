"""Versioned snapshots on plain parquet — the minimal lakehouse
time-travel surface (Delta/Iceberg's snapshot isolation emulated with
immutable version directories; the reference engine, like vanilla
MapReduce, rewrites outputs in place and has no versioning at all).

Layout: `<root>/v=N/` holds version N's full parquet snapshot; the
highest COMMITTED N is the current table. Commits are atomic: the write
lands in a hidden temp directory and is renamed to v=N only once the
job (and its _SUCCESS marker) completes, and version listing ignores
any directory without _SUCCESS — so a failed or in-flight write is
invisible to readers and concurrent readers of v=N are never disturbed,
the same contract real table formats get from manifest files. At 100 TB, full-snapshot versions give way to Delta/Iceberg
manifests + data-file reuse; the API here is the seam where that
swap happens (`apply_changes` is already the MERGE plan shape AQE
broadcasts — see operators/cdc.py::merge_apply).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from hadoop_mapreduce_spark.operators.cdc import merge_apply

_VER_RE = re.compile(r"^v=(\d+)$")


def list_versions(root: str) -> list[int]:
    """Sorted COMMITTED version numbers under root ([] if none).

    A version counts only if its directory holds the _SUCCESS marker the
    Hadoop output committer writes after the job completes — a crashed or
    in-flight write leaves a directory without it, and treating that as
    the current version would hand 'latest' readers an incomplete
    snapshot (this is the poor man's manifest; Delta/Iceberg commit via
    a metadata file for exactly this reason).
    """
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        m = _VER_RE.match(d)
        if m and os.path.isfile(os.path.join(root, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def write_snapshot(df: DataFrame, root: str, version: int | None = None) -> int:
    """Write df as the next (or an explicit) version; returns the version.

    Refuses to overwrite an existing version — versions are immutable
    (time travel depends on it; a rewritten version silently changes
    history for every reader pinned to it).

    Commit protocol: the job writes into a hidden temp directory, which
    is os.rename'd to v=N only after the write (and its _SUCCESS marker)
    completes — so a v=N directory either is a complete snapshot or does
    not exist, and a failed write leaves nothing behind.
    """
    have = list_versions(root)
    v = (max(have) + 1 if have else 1) if version is None else version
    final = os.path.join(root, f"v={v}")
    if v in have or os.path.isdir(final):
        raise ValueError(f"version {v} already exists under {root} — "
                         f"versions are immutable; write a new one")
    tmp = os.path.join(root, f".inflight-v={v}")
    try:
        df.write.parquet(tmp)
        os.rename(tmp, final)
    except BaseException:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return v


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """Read a specific version (time travel) or the latest."""
    have = list_versions(root)
    if not have:
        raise FileNotFoundError(f"no versions under {root}")
    v = max(have) if version is None else version
    if v not in have:
        raise FileNotFoundError(
            f"version {v} not found under {root} (have {have})")
    return spark.read.parquet(os.path.join(root, f"v={v}"))


def apply_changes(spark: SparkSession, root: str, changes: DataFrame,
                  key: str) -> int:
    """MERGE a change batch into the latest snapshot and commit the
    result as the next version; returns the new version number.

    read latest → merge_apply (compacted changes, one key-join the
    optimizer broadcasts when changes ≪ snapshot) → write v+1. The
    previous version stays readable throughout — snapshot isolation for
    free from immutability.
    """
    current = read_snapshot(spark, root)
    merged = merge_apply(current, changes, key)
    return write_snapshot(merged, root)


def vacuum(root: str, keep_last: int = 2) -> list[int]:
    """Retention: delete all but the newest `keep_last` committed
    versions (Delta VACUUM's contract at version granularity — full
    snapshots mean a version is independently deletable; no data-file
    refcounting needed until versions share files).

    Time travel to a vacuumed version then raises in read_snapshot, the
    same trade real retention makes. The CURRENT version can never be
    deleted (keep_last is clamped to >= 1), uncommitted debris
    directories (no _SUCCESS — crashed writes) are swept too, and
    deletion order is oldest-first so a crash mid-vacuum leaves a
    contiguous suffix of history. Returns the deleted version numbers.

    Concurrency caveat (same as real VACUUM): the debris sweep cannot
    distinguish a crashed write from an IN-FLIGHT one — do not run
    vacuum concurrently with writers (Delta scopes this with a
    retention window; full-snapshot versions make the window moot but
    the writer exclusion remains).
    """
    import shutil

    keep_last = max(1, keep_last)
    versions = list_versions(root)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for v in doomed:
        shutil.rmtree(os.path.join(root, f"v={v}"))
    # sweep uncommitted debris (tmp dirs and _SUCCESS-less versions)
    if os.path.isdir(root):
        for d in os.listdir(root):
            p = os.path.join(root, d)
            m = _VER_RE.match(d)
            uncommitted = m and not os.path.isfile(os.path.join(p, "_SUCCESS"))
            if uncommitted or d.startswith("."):
                shutil.rmtree(p, ignore_errors=True)
    return doomed


def compact_snapshot(spark: SparkSession, root: str,
                     target_files: int = 1) -> int:
    """Small-file compaction: rewrite the LATEST version's data as
    `target_files` files and commit it as the NEXT version (Delta
    OPTIMIZE's contract: compaction is a new snapshot, never an
    in-place rewrite — readers of the old version are undisturbed, and
    time travel still sees the fragmented history).

    The streaming-CDC path (stream_changes_into_snapshots) produces one
    version per micro-batch with micro-batch-sized files; periodic
    compaction is what keeps scan-time file counts bounded — at 100 TB
    this is the job that turns 10^6 KB-files into 10^3 GB-files.
    Returns the new version number.
    """
    current = read_snapshot(spark, root)
    return write_snapshot(current.coalesce(target_files), root)
