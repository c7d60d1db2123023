"""Checkpoint manifests + resume: per-bucket lineage so a killed run
restarts from the last committed bucket without recomputation (north_rule;
SURVEY.md §4.2.3).

The reference has NO durable state (Transient deliveries
/root/reference/ocr_rpc_client.go:131, noAck consume ocr_rpc_worker.go:100
— at-most-once). This is an additive requirement from BASELINE.json.

Layout (filesystem-transactional, Iceberg-snapshot-shaped without Iceberg in
the sandbox):

    out_dir/
      data/run=<run id>-<write id>/*.parquet
                                     one directory per run: one write
                                     action, ``bucket`` a plain column,
                                     rows sorted by bucket in each file
      manifests/bucket=<k>.json      per-bucket counters, written after
                                     the data
      snapshots/snap-<seq>.json      one per completed run, THE COMMIT
                                     POINT: lineage (parent link, input
                                     snapshot id), the committed-bucket
                                     set and the data directories that
                                     make up the table at that snapshot

A bucket is committed iff the head snapshot lists it. A run writes its
data directory, then its manifests, then its snapshot (atomically); a kill
anywhere before the snapshot leaves the whole run uncommitted, and the
next run recomputes all of its buckets (deterministic kernels make the
rewrite byte-identical). At the start of every run the data directories
no snapshot records, and the manifests of uncommitted buckets, are
deleted — the job is the table's only committer. Resume = skip committed
buckets (the left_anti of SURVEY §2.B, expressed as a filter on the
bucket id right above the scan). Readers read only the directories a
snapshot records, so a killed run's rows are never visible.

The partition-directory layout of earlier versions (``data/bucket=<k>/``)
is rejected with ``ValueError`` before anything is read or deleted.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def derive_snapshot_id(df: DataFrame) -> str:
    """Parquet stand-in for an Iceberg input snapshot id: a hash of the
    input file listing (path, size, mtime). Two runs over the same
    committed files agree; any added/replaced/rewritten input file changes
    the id, so resume can detect that the input moved underneath it
    (Iceberg would hand us snapshot_id() for free; this is the honest
    filesystem equivalent). In-memory inputs (no files) get a fixed
    sentinel — they carry no listing to fingerprint."""
    import hashlib

    files = sorted(df.inputFiles())
    if not files:
        return "snapshot-inmemory"
    parts = []
    for uri in files:
        url = urlparse(uri)
        if url.scheme == "file":
            try:
                # Spark lists percent-encoded URIs (a space is %20)
                st = os.stat(unquote(url.path))
                parts.append(f"{uri}|{st.st_size}|{st.st_mtime_ns}")
                continue
            except OSError:
                pass
        parts.append(uri)  # non-local FS: path-only fingerprint
    digest = hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
    return f"snap-{digest}"


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Content-addressed bucket id: pmod(xxhash64(url), B). Deterministic
    across runs and parallelism levels — the unit of resume."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets))
    )


def committed_buckets(out_dir: str) -> set[int]:
    """The buckets the head snapshot lists: a run's buckets are committed
    when its snapshot is written, not before."""
    chain = snapshot_chain(out_dir)
    return set(chain[-1]["committed_buckets"]) if chain else set()


def check_layout(out_dir: str) -> None:
    """Raise ``ValueError`` for an output dir written with the old
    ``data/bucket=<k>/`` layout: its buckets are not in any snapshot's
    data directories, so a resume would recompute and write them twice."""
    ddir = os.path.join(out_dir, "data")
    legacy = os.path.isdir(ddir) and sorted(
        n for n in os.listdir(ddir) if n.startswith("bucket=")
    )
    if legacy:
        raise ValueError(
            f"{out_dir} uses the old data/bucket=<k> layout "
            f"({legacy[0]}, ...); use a fresh output dir"
        )


def remove_uncommitted(out_dir: str) -> None:
    """Delete what a killed run left behind: every ``data/`` directory no
    snapshot records and the manifest of every uncommitted bucket. Never
    touches a directory that any snapshot (not only the head) records."""
    chain = snapshot_chain(out_dir)
    recorded = {d for s in chain for d in s.get("data_dirs", [])}
    ddir = os.path.join(out_dir, "data")
    if os.path.isdir(ddir):
        for name in os.listdir(ddir):
            path = os.path.join(ddir, name)
            if os.path.isdir(path) and f"data/{name}" not in recorded:
                shutil.rmtree(path)
    done = committed_buckets(out_dir)
    mdir = os.path.join(out_dir, "manifests")
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if (name.startswith("bucket=") and name.endswith(".json")
                    and int(name[len("bucket="):-len(".json")]) not in done):
                os.unlink(os.path.join(mdir, name))


def read_manifests(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, "manifests")
    out = []
    for b in sorted(committed_buckets(out_dir)):
        with open(os.path.join(mdir, f"bucket={b}.json")) as f:
            out.append(json.load(f))
    return out


def write_snapshot(
    out_dir: str,
    *,
    run_id: str,
    input_snapshot_id: str,
    buckets_processed: list[int],
    num_buckets: int | None = None,
    data_dir: str | None = None,
) -> dict:
    """Commit a run: append an Iceberg-shaped snapshot to the table's
    snapshot chain. One JSON file per completed run records the run's
    lineage (input snapshot id, buckets it processed, parent snapshot, its
    data directory ``data_dir``, relative to ``out_dir``) plus the table
    at commit time: the FULL committed-bucket set and every data directory
    (``data_dirs``) — so `read_extracted` can answer "state as of run N"
    (time-travel) and audits can walk parent links back to the first run.
    Written atomically (tmp + rename) after all of the run's data and
    manifests: this file IS the commit, and a kill before it leaves the
    whole run uncommitted."""
    sdir = os.path.join(out_dir, "snapshots")
    os.makedirs(sdir, exist_ok=True)
    chain = snapshot_chain(out_dir)
    # max(seq)+1, NOT len(chain): if an earlier snapshot file was deleted
    # (audits/manual cleanup), len() would reuse a live sequence number and
    # silently overwrite that snapshot, corrupting the parent-link chain
    seq = max((s.get("sequence_number", -1) for s in chain), default=-1) + 1
    head = chain[-1] if chain else {}
    data_dirs = head.get("data_dirs", []) + ([data_dir] if data_dir else [])
    snapshot = {
        "sequence_number": seq,
        "snapshot_id": f"{run_id}-{seq}",
        "parent_snapshot_id": chain[-1].get("snapshot_id") if chain else None,
        "run_id": run_id,
        "input_snapshot_id": input_snapshot_id,
        "num_buckets": num_buckets,
        "buckets_processed": sorted(buckets_processed),
        "committed_buckets": sorted(
            set(head.get("committed_buckets", [])) | set(buckets_processed)
        ),
        "data_dir": data_dir,
        "data_dirs": sorted(data_dirs),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    tmp = os.path.join(sdir, f".snap-{seq:06d}.json.tmp")
    final = os.path.join(sdir, f"snap-{seq:06d}.json")
    with open(tmp, "w") as f:
        json.dump(snapshot, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        # link-then-unlink instead of os.replace: atomic AND exclusive, so
        # a sequence-number collision (concurrent writer, clock games)
        # fails loudly instead of overwriting an existing snapshot
        os.link(tmp, final)
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"snapshot collision: {final} already exists - refusing to "
            "overwrite a committed snapshot"
        ) from None
    except OSError:
        # filesystem without hard links (object-store FUSE mounts raise
        # EPERM/EOPNOTSUPP): os.replace keeps the write ATOMIC — a crash
        # mid-commit can never leave a torn snap-NNNNNN.json that would
        # poison snapshot_chain or block every later commit with a
        # collision error. Collision detection falls back to an explicit
        # existence check: one syscall racier than O_EXCL, which only
        # matters for two concurrent writers on the same table (out of
        # scope — the job is the table's single committer).
        if os.path.exists(final):
            os.unlink(tmp)
            raise RuntimeError(
                f"snapshot collision: {final} already exists - refusing "
                "to overwrite a committed snapshot"
            ) from None
        os.replace(tmp, final)
        return snapshot
    os.unlink(tmp)
    return snapshot


def snapshot_chain(out_dir: str) -> list[dict]:
    """All snapshots in sequence order (parent links verified lazily by
    callers/tests)."""
    sdir = os.path.join(out_dir, "snapshots")
    if not os.path.isdir(sdir):
        return []
    out = []
    for name in sorted(os.listdir(sdir)):
        if name.startswith("snap-") and name.endswith(".json"):
            with open(os.path.join(sdir, name)) as f:
                out.append(json.load(f))
    return out


def commit_bucket(
    out_dir: str,
    bucket: int,
    *,
    run_id: str,
    input_snapshot_id: str,
    docs: int,
    bytes_processed: int,
    failures: int,
    num_buckets: int | None = None,
) -> None:
    """Write the manifest row for a bucket — atomically (tmp + rename),
    after its data write and before the run's snapshot commits it.
    ``num_buckets`` is the B of the bucket id pmod(xxhash64(url), B):
    bucket k under one B holds other urls than bucket k under another, so
    a resume checks it."""
    mdir = os.path.join(out_dir, "manifests")
    os.makedirs(mdir, exist_ok=True)
    manifest = {
        "run_id": run_id,
        "input_snapshot_id": input_snapshot_id,
        "partition_range": f"bucket {bucket}..{bucket}",
        "bucket": bucket,
        "num_buckets": num_buckets,
        "docs_processed": docs,
        "bytes_processed": bytes_processed,
        "failure_count": failures,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    tmp = os.path.join(mdir, f".bucket={bucket}.json.tmp")
    final = os.path.join(mdir, f"bucket={bucket}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)
