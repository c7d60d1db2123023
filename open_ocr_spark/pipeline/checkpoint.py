"""Checkpoint manifests + resume: per-bucket lineage so a killed run
restarts from the last committed bucket without recomputation (north_rule;
SURVEY.md §4.2.3).

The reference has NO durable state (Transient deliveries
/root/reference/ocr_rpc_client.go:131, noAck consume ocr_rpc_worker.go:100
— at-most-once). This is an additive requirement from BASELINE.json.

Layout (filesystem-transactional, Iceberg-snapshot-shaped without Iceberg in
the sandbox):

    out_dir/
      data/bucket=<k>/*.parquet      all of a run's buckets: one write action
      manifests/bucket=<k>.json      committed AFTER the bucket's data
      snapshots/snap-<seq>.json      one per completed run: lineage chain
                                     (parent link, input snapshot id,
                                     committed-bucket set) for time-travel
                                     reads and audits

A bucket is committed iff its manifest file exists; the manifest is written
only after the data write returns, so a kill between the two leaves an
uncommitted bucket that is simply recomputed (output overwrite per bucket is
idempotent — deterministic kernels make the rewrite byte-identical).
Resume = skip buckets whose manifest exists (the left_anti of SURVEY §2.B,
expressed as partition pruning on the bucket column — cheaper than a join:
committed buckets are never even scanned).
"""

from __future__ import annotations

import json
import os
import time

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
        p = None
        if uri.startswith("file://"):
            p = uri[len("file://"):]
        elif uri.startswith("file:"):
            p = uri[len("file:"):]
        if p is not None:
            try:
                st = os.stat(p)
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
    mdir = os.path.join(out_dir, "manifests")
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket=") and name.endswith(".json"):
            out.add(int(name[len("bucket=") : -len(".json")]))
    return out


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
) -> dict:
    """Append an Iceberg-shaped snapshot to the table's snapshot chain:
    one JSON file per completed run, recording the run's lineage (input
    snapshot id, buckets it committed, parent snapshot) plus the FULL set
    of committed buckets at commit time — so `read_extracted` can answer
    "state as of run N" (time-travel) and audits can walk parent links
    back to the first run. Written atomically (tmp + rename) after all of
    the run's bucket manifests; a kill before this file simply leaves the
    buckets visible to the next run via their manifests, exactly like an
    uncommitted Iceberg snapshot's data files."""
    sdir = os.path.join(out_dir, "snapshots")
    os.makedirs(sdir, exist_ok=True)
    chain = snapshot_chain(out_dir)
    # max(seq)+1, NOT len(chain): if an earlier snapshot file was deleted
    # (audits/manual cleanup), len() would reuse a live sequence number and
    # silently overwrite that snapshot, corrupting the parent-link chain
    seq = max((s.get("sequence_number", -1) for s in chain), default=-1) + 1
    snapshot = {
        "sequence_number": seq,
        "snapshot_id": f"{run_id}-{seq}",
        "parent_snapshot_id": chain[-1].get("snapshot_id") if chain else None,
        "run_id": run_id,
        "input_snapshot_id": input_snapshot_id,
        "num_buckets": num_buckets,
        "buckets_processed": sorted(buckets_processed),
        "committed_buckets": sorted(committed_buckets(out_dir)),
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
    """Write the manifest row for a bucket — atomically (tmp + rename) and
    strictly after its data write. ``num_buckets`` is the B of the
    bucket id pmod(xxhash64(url), B): bucket k under one B holds other
    urls than bucket k under another, so a resume checks it."""
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
