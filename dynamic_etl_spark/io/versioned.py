"""Versioned table commits: multi-writer-safe publish via a pointer-file
CAS (SURVEY.md §2.9 U1 table-format arm; VERDICT r3 #4).

``write_staging_swap`` (sinks.py) is correct for the reference's
single-writer staging + MERGE + DROP protocol
(scripts2/load_fact_sales_dw.py:390-423: one Airflow task owns the
table), but a directory rename offers no isolation once two writers
race: the loser's rename clobbers the winner. Real table formats
(Delta/Iceberg) solve this with an ordered log of immutable snapshots
plus an atomic commit primitive; this module is that design reduced to
what a posix/HDFS-style filesystem gives us natively:

- data is written to an immutable, uniquely-named directory under
  ``<root>/_versions/`` by ``io.table.write_table`` — invisible until
  committed;
- a commit is the creation of ``<root>/_commits/{version:08d}.json``
  via hard-link-from-temp, which is atomic AND exclusive: exactly one
  writer can create version N, and the record never exists half-written
  (content is fully durable before the link). It holds ``version``,
  ``dir`` (the data directory's name) and the caller's ``metadata``;
- readers resolve ``max(_commits/*.json)`` and scan the data directory
  it names through ``io.table.read_table`` — they see the newest
  COMPLETE snapshot, never a partial write, and old snapshots stay
  readable until ``vacuum``;
- a writer declares the version it based its computation on; if another
  writer committed first, the CAS fails and ``ConcurrentWriteError``
  tells it to recompute from the new snapshot (optimistic concurrency —
  lost-update-safe, the stale writer can never clobber a newer commit).

At 100 TB this is exactly the object-store-friendly shape: no renames
of big directories (the data dir is written once, in place), one tiny
commit object per version, and O(1) pointer resolution per read.
The ONE storage semantic the protocol needs beyond plain list/get/put
is atomic create-exclusive of the commit record, which one function
provides: ``_local_put_if_absent``, the local hard-link CAS. An
object-store port replaces it with the store's conditional PUT — S3
``If-None-Match: *``, GCS ``ifGenerationMatch=0``, Azure Blob
``If-None-Match: *`` all give the same exactly-one-winner guarantee on
key creation, so the commit loop is unchanged. Everything else already
maps 1:1: immutable uniquely-named data prefixes, pointer resolution by
list+max over ``_commits/``, no directory renames anywhere.

Crash matrix: die before commit → orphan data dir, table unchanged
(vacuum sweeps it); die after commit → fully visible; there is no
in-between because visibility IS the commit record.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from dynamic_etl_spark.io.table import read_table, write_table

_VERSIONS = "_versions"
_COMMITS = "_commits"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since ``base_version`` was read."""


def _local_put_if_absent(path: str, payload: bytes) -> bool:
    """The commit primitive — atomic + exclusive create of a small
    record on a posix/HDFS-style filesystem: the payload is made fully
    durable under a temp name first, then hard-linked to its final name.
    link(2) fails with EEXIST when another writer won the key, and a
    reader can never observe a half-written record. An object-store port
    replaces it with its conditional-PUT equivalent (module docstring) —
    the return contract is the only interface: True iff this call
    created the key."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def latest_version(root: str) -> int | None:
    """Highest committed version, or None for an empty/absent table."""
    cdir = os.path.join(root, _COMMITS)
    if not os.path.isdir(cdir):
        return None
    versions = [
        int(f[:-5]) for f in os.listdir(cdir) if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions) if versions else None


def _commit_record(root: str, version: int) -> dict:
    with open(os.path.join(root, _COMMITS, f"{version:08d}.json")) as fh:
        return json.load(fh)


def write_versioned(
    df: DataFrame,
    root: str,
    base_version: int | None = None,
    expected_base: bool = False,
    metadata: dict | None = None,
) -> int:
    """Write ``df`` as the next snapshot of the table at ``root`` and
    atomically commit it. Returns the committed version number. The
    snapshot is parquet plus ``_schema.json`` (``io.table.write_table``);
    the commit record holds ``version``, ``dir`` and ``metadata``.

    ``base_version``/``expected_base``: pass the version the computation
    read from (``latest_version(root)``) with ``expected_base=True`` to
    get optimistic-concurrency semantics — the commit fails with
    :class:`ConcurrentWriteError` if any other writer committed after
    it. Without it, writers serialize on the CAS (retrying at the next
    number) and last-committer-wins, which is only safe for blind
    overwrites that derive from nothing.

    ``metadata`` (JSON-serializable) rides in the commit record —
    readable via :func:`latest_metadata`. The idempotent-sink pattern
    (Delta's txn appId/version): record the source batch id with each
    commit and skip batches at-or-below the recorded id on replay, so a
    NON-idempotent state fold (e.g. a running aggregate) survives
    checkpoint redelivery applied exactly once.

    The commit primitive is :func:`_local_put_if_absent`, the local
    hard-link CAS (VERDICT r11 #6: the protocol's only storage-specific
    semantic). An object-store port replaces it with its conditional
    PUT (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``) bound to
    the same key layout. The contract: create the key with exactly-one
    winner — True iff THIS call created it, False if it already exists,
    and the key must never be readable half-written.
    """
    os.makedirs(os.path.join(root, _VERSIONS), exist_ok=True)
    os.makedirs(os.path.join(root, _COMMITS), exist_ok=True)

    if expected_base and latest_version(root) != base_version:
        raise ConcurrentWriteError(
            f"table {root!r} advanced past base version {base_version!r}; recompute"
        )

    data_name = f"v-{uuid.uuid4().hex}"
    data_dir = os.path.join(root, _VERSIONS, data_name)
    try:
        write_table(df, data_dir)

        while True:
            current = latest_version(root)
            if expected_base and current != base_version:
                raise ConcurrentWriteError(
                    f"table {root!r} advanced past base version {base_version!r}; recompute"
                )
            version = (current if current is not None else -1) + 1
            record = {"version": version, "dir": data_name, "metadata": metadata or {}}
            # atomic + exclusive publish; a False return means another
            # writer won this version number — the loop re-reads latest:
            # expected_base writers abort above, blind writers retry at
            # the next number
            target = os.path.join(root, _COMMITS, f"{version:08d}.json")
            if _local_put_if_absent(target, json.dumps(record).encode()):
                return version
    except BaseException:
        shutil.rmtree(data_dir, ignore_errors=True)
        raise


def read_versioned(spark: SparkSession, root: str) -> DataFrame:
    """Scan the newest committed snapshot through ``io.table.read_table``:
    its ``_schema.json`` spares the footer-inference job (older snapshots
    without one infer)."""
    v = latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no committed versions at {root!r}")
    return read_table(spark, os.path.join(root, _VERSIONS, _commit_record(root, v)["dir"]))


def latest_metadata(root: str) -> dict:
    """Metadata dict of the newest committed version ({} for none/empty,
    and for records written before metadata existed)."""
    v = latest_version(root)
    if v is None:
        return {}
    return _commit_record(root, v).get("metadata", {})


def vacuum(
    root: str, keep_versions: int = 2, min_orphan_age_s: float = 24 * 3600
) -> list[str]:
    """Drop data directories no committed-and-retained version references:
    snapshots older than the ``keep_versions`` newest, plus orphans from
    crashed writers. Returns the removed directory names. Readers pinned
    to a vacuumed version lose it — size ``keep_versions`` to the longest
    running read.

    A NEVER-committed directory is indistinguishable from an in-flight
    writer that has finished its data write but not yet linked its commit
    record — deleting it would let that writer commit a version pointing
    at nothing (review r4). Such dirs are only swept once older than
    ``min_orphan_age_s`` (mtime-based; default one day — far beyond any
    write-to-commit gap, the same retention idea real table formats
    use). Directories referenced by a PRUNED commit are past their
    commit, so they delete regardless of age."""
    import time

    cdir = os.path.join(root, _COMMITS)
    vdir = os.path.join(root, _VERSIONS)
    if not os.path.isdir(cdir) or not os.path.isdir(vdir):
        return []
    committed = sorted(
        int(f[:-5]) for f in os.listdir(cdir) if f.endswith(".json") and f[:-5].isdigit()
    )
    keep = set(committed[-keep_versions:]) if keep_versions > 0 else set()
    live_dirs = {_commit_record(root, v)["dir"] for v in keep}
    pruned_dirs = {_commit_record(root, v)["dir"] for v in committed if v not in keep}
    now = time.time()
    removed = []
    for name in sorted(os.listdir(vdir)):
        if name in live_dirs:
            continue
        full = os.path.join(vdir, name)
        if name not in pruned_dirs:
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age < min_orphan_age_s:
                continue
        shutil.rmtree(full, ignore_errors=True)
        removed.append(name)
    for v in committed:
        if v not in keep:
            os.unlink(os.path.join(cdir, f"{v:08d}.json"))
    return removed
