"""Resume tier (SURVEY.md §5.2.4): kill after k buckets, restart, assert
zero recomputation and byte-identical final output vs an uninterrupted
run."""

import pyspark.sql.functions as F
import pytest

from open_ocr_spark.fixtures import golden_df, pages_df
from open_ocr_spark.pipeline.checkpoint import committed_buckets, read_manifests
from open_ocr_spark.pipeline.job import read_extracted, run_extraction_job

N_ROWS = 200
BUCKETS = 6


def test_kill_resume_identical_output(spark, tmp_path):
    pages = pages_df(spark, N_ROWS)
    out_interrupted = str(tmp_path / "interrupted")
    out_clean = str(tmp_path / "clean")

    # killed run: stops after 2 buckets
    first = run_extraction_job(
        spark, pages, out_interrupted, num_buckets=BUCKETS, max_buckets=2
    )
    assert first["buckets_processed"] == 2
    assert len(committed_buckets(out_interrupted)) == 2

    # resume: must process exactly the remaining buckets
    second = run_extraction_job(
        spark, pages, out_interrupted, num_buckets=BUCKETS
    )
    assert second["buckets_processed"] == BUCKETS - 2
    assert len(committed_buckets(out_interrupted)) == BUCKETS

    # third run: idempotent no-op
    third = run_extraction_job(spark, pages, out_interrupted, num_buckets=BUCKETS)
    assert third["buckets_processed"] == 0

    # uninterrupted reference run
    run_extraction_job(spark, pages, out_clean, num_buckets=BUCKETS)

    a = read_extracted(spark, out_interrupted).select(
        "url", "extracted_text", "status"
    )
    b = read_extracted(spark, out_clean).select("url", "extracted_text", "status")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_manifest_lineage_counts(spark, tmp_path):
    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")
    run_extraction_job(
        spark, pages, out, num_buckets=4, input_snapshot_id="snap-42"
    )
    manifests = read_manifests(out)
    assert len(manifests) == 4
    assert all(m["input_snapshot_id"] == "snap-42" for m in manifests)
    total = sum(m["docs_processed"] for m in manifests)
    golden = golden_df(spark, N_ROWS)
    assert total == golden.count()
    failures = sum(m["failure_count"] for m in manifests)
    expected_failures = golden.filter(F.col("status") != "ok").count()
    assert failures == expected_failures


def test_one_parquet_write_action_per_run(spark, tmp_path, monkeypatch):
    """A run computes and writes all of its buckets in one action, whatever
    ``buckets_per_commit`` says."""
    from pyspark.sql import DataFrameWriter

    calls = []
    real = DataFrameWriter.parquet

    def counting(self, *args, **kwargs):
        calls.append(args[0] if args else kwargs.get("path"))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    out = str(tmp_path / "run")
    summary = run_extraction_job(spark, pages_df(spark, N_ROWS), out,
                                 num_buckets=BUCKETS, buckets_per_commit=2)
    assert len(calls) == 1 and calls[0].startswith(f"{out}/data/")
    assert summary["buckets_processed"] == BUCKETS
    assert len(committed_buckets(out)) == BUCKETS


def test_manifests_equal_groupby_over_written_table(spark, tmp_path):
    """Across a kill and a resume, every manifest's counters equal a
    per-bucket groupBy over the table as read back, with each row's
    bucket recomputed from its url."""
    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")
    run_extraction_job(spark, pages, out, num_buckets=BUCKETS, max_buckets=2)
    run_extraction_job(spark, pages, out, num_buckets=BUCKETS)

    bucket = F.pmod(F.xxhash64("url"), F.lit(BUCKETS))
    table = {
        r["b"]: (r["docs"], r["bytes"], r["failures"])
        for r in read_extracted(spark, out)
        .groupBy(bucket.cast("int").alias("b"))
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("n_bytes").alias("bytes"),
             F.sum((F.col("status") != "ok").cast("int")).alias("failures"))
        .collect()
    }
    manifests = {
        m["bucket"]: (m["docs_processed"], m["bytes_processed"],
                      m["failure_count"])
        for m in read_manifests(out)
    }
    assert set(manifests) == set(range(BUCKETS))
    assert manifests == {b: table.get(b, (0, 0, 0)) for b in range(BUCKETS)}
    assert sum(d for d, _, _ in manifests.values()) == \
        golden_df(spark, N_ROWS).count()


def test_empty_input_commits_every_bucket(spark, tmp_path):
    """A run that writes no row still commits every bucket, with zeros."""
    out = str(tmp_path / "run")
    empty = pages_df(spark, N_ROWS).limit(0)
    summary = run_extraction_job(spark, empty, out, num_buckets=4)
    assert summary["buckets_processed"] == 4 and summary["docs"] == 0
    manifests = read_manifests(out)
    assert [m["bucket"] for m in manifests] == [0, 1, 2, 3]
    for m in manifests:
        assert (m["docs_processed"], m["bytes_processed"],
                m["failure_count"]) == (0, 0, 0)
    # a rerun is a no-op: every bucket is committed
    assert run_extraction_job(spark, empty, out,
                              num_buckets=4)["buckets_processed"] == 0


def test_snapshot_id_derived_and_mismatch_surfaced(spark, tmp_path):
    """input_snapshot_id defaults to a fingerprint of the input file
    listing; rewriting the input between a kill and a resume changes the
    id, and the resume surfaces the committed-under-old-snapshot buckets."""
    import warnings

    from open_ocr_spark.pipeline.checkpoint import derive_snapshot_id

    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    pages_df(spark, N_ROWS).write.parquet(src)

    pages1 = spark.read.parquet(src)
    snap1 = derive_snapshot_id(pages1)
    assert snap1.startswith("snap-")
    assert derive_snapshot_id(spark.read.parquet(src)) == snap1  # stable

    first = run_extraction_job(spark, pages1, out, num_buckets=4, max_buckets=2)
    assert first["snapshot_mismatch_buckets"] == []
    for m in read_manifests(out):
        assert m["input_snapshot_id"] == snap1

    # rewrite the input (same rows, new files): snapshot id must change
    pages_df(spark, N_ROWS).repartition(3).write.mode("overwrite").parquet(src)
    pages2 = spark.read.parquet(src)
    snap2 = derive_snapshot_id(pages2)
    assert snap2 != snap1

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        second = run_extraction_job(spark, pages2, out, num_buckets=4)
    assert len(second["snapshot_mismatch_buckets"]) == 2  # the killed run's
    assert any("different input snapshot" in str(w.message) for w in caught)
    # and the new manifests carry the new snapshot id
    snap_ids = {m["input_snapshot_id"] for m in read_manifests(out)}
    assert snap_ids == {snap1, snap2}


def test_snapshot_id_sees_mtime_under_an_escaped_path(spark, tmp_path):
    """Spark lists input files as percent-encoded URIs; a directory name
    with a space must still be stat'ed, so touching one file changes the
    id instead of falling back to a path-only fingerprint."""
    import glob
    import os

    from open_ocr_spark.pipeline.checkpoint import derive_snapshot_id

    src = str(tmp_path / "sp ace" / "pages")
    pages_df(spark, 20).write.parquet(src)
    snap1 = derive_snapshot_id(spark.read.parquet(src))
    part = sorted(glob.glob(os.path.join(src, "part-*.parquet")))[0]
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns - 10**9))
    assert derive_snapshot_id(spark.read.parquet(src)) != snap1


def test_snapshot_seq_survives_deleted_earlier_snapshot(tmp_path):
    """Sequence numbers come from max(existing)+1, not len(chain): deleting
    an early snapshot file must never cause the next run to REUSE a live
    sequence number and overwrite a committed snapshot (ADVICE r2)."""
    import os

    import pytest as _pytest

    from open_ocr_spark.pipeline.checkpoint import (
        snapshot_chain,
        write_snapshot,
    )

    out = str(tmp_path / "run")
    for i in range(3):
        write_snapshot(out, run_id=f"r{i}", input_snapshot_id="snap-x",
                       buckets_processed=[i])
    os.unlink(os.path.join(out, "snapshots", "snap-000000.json"))

    snap = write_snapshot(out, run_id="r3", input_snapshot_id="snap-x",
                          buckets_processed=[3])
    assert snap["sequence_number"] == 3  # NOT 2 == len(remaining chain)
    seqs = [s["sequence_number"] for s in snapshot_chain(out)]
    assert seqs == [1, 2, 3]  # nothing overwritten

    # and a forced collision fails loudly instead of overwriting
    collider = os.path.join(out, "snapshots", "snap-000004.json")
    with open(collider, "w") as f:
        f.write("{}")
    with _pytest.raises(RuntimeError, match="snapshot collision"):
        write_snapshot(out, run_id="r4", input_snapshot_id="snap-x",
                       buckets_processed=[4])


def test_snapshot_commit_without_hardlinks(tmp_path, monkeypatch):
    """On filesystems where os.link raises OSError (object-store FUSE
    mounts: EPERM/EOPNOTSUPP), the commit falls back to an atomic
    os.replace — still succeeds, a collision still fails loudly, and no
    tmp file or torn final file is ever left behind (an O_EXCL+write
    fallback would leave a torn snap-NNNNNN.json on a crash mid-copy,
    which poisons snapshot_chain and blocks every later commit)."""
    import errno
    import os

    import pytest as _pytest

    from open_ocr_spark.pipeline.checkpoint import (
        snapshot_chain,
        write_snapshot,
    )

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    out = str(tmp_path / "run")
    for i in range(2):
        write_snapshot(out, run_id=f"r{i}", input_snapshot_id="snap-x",
                       buckets_processed=[i])
    seqs = [s["sequence_number"] for s in snapshot_chain(out)]
    assert seqs == [0, 1]
    # fallback commits are complete JSON and leave no tmp residue
    import json

    sdir = os.path.join(out, "snapshots")
    names = sorted(os.listdir(sdir))
    assert names == ["snap-000000.json", "snap-000001.json"]
    for name in names:
        with open(os.path.join(sdir, name)) as f:
            assert "snapshot_id" in json.load(f)
    # exclusivity preserved through the fallback path too
    collider = os.path.join(out, "snapshots", "snap-000002.json")
    with open(collider, "w") as f:
        f.write("{}")
    with _pytest.raises(RuntimeError, match="snapshot collision"):
        write_snapshot(out, run_id="r2", input_snapshot_id="snap-x",
                       buckets_processed=[2])


def test_snapshot_chain_and_time_travel(spark, tmp_path):
    """Each completed run appends one snapshot with a parent link; reading
    as-of an earlier snapshot returns exactly the buckets committed then,
    byte-identical; no-op runs add no snapshot."""
    from open_ocr_spark.pipeline.checkpoint import snapshot_chain

    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")

    first = run_extraction_job(spark, pages, out, num_buckets=4, max_buckets=2)
    second = run_extraction_job(spark, pages, out, num_buckets=4)
    noop = run_extraction_job(spark, pages, out, num_buckets=4)

    chain = snapshot_chain(out)
    assert len(chain) == 2  # the no-op added none
    assert chain[0]["parent_snapshot_id"] is None
    assert chain[1]["parent_snapshot_id"] == chain[0]["snapshot_id"]
    assert first["snapshot_id"] == chain[0]["snapshot_id"]
    assert noop["snapshot_id"] == chain[1]["snapshot_id"]
    assert len(chain[0]["committed_buckets"]) == 2
    assert len(chain[1]["committed_buckets"]) == 4

    full = read_extracted(spark, out).count()
    asof1 = read_extracted(spark, out, as_of=chain[0]["snapshot_id"])
    asof1_by_seq = read_extracted(spark, out, as_of=0)
    assert asof1.count() == asof1_by_seq.count() < full
    # as-of content equals the subset of today's table in those buckets
    assert asof1.exceptAll(read_extracted(spark, out)).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown snapshot"):
        read_extracted(spark, out, as_of="nope")


def test_resume_with_other_num_buckets_rejected(spark, tmp_path):
    """A bucket id is pmod(xxhash64(url), B): resuming under another B
    would recompute urls the committed buckets already hold and write
    them twice. Manifests and snapshots record B; a resume with another
    B raises before any work and leaves the table as it was."""
    from open_ocr_spark.pipeline.checkpoint import snapshot_chain

    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")
    run_extraction_job(spark, pages, out, num_buckets=4, max_buckets=2)
    assert [m["num_buckets"] for m in read_manifests(out)] == [4, 4]
    assert snapshot_chain(out)[-1]["num_buckets"] == 4

    with pytest.raises(ValueError, match="num_buckets"):
        run_extraction_job(spark, pages, out, num_buckets=8)
    assert len(committed_buckets(out)) == 2
    assert len(snapshot_chain(out)) == 1

    run_extraction_job(spark, pages, out, num_buckets=4)
    got = read_extracted(spark, out)
    assert got.count() == got.select("url").distinct().count() == \
        golden_df(spark, N_ROWS).count()


@pytest.mark.parametrize("out_dir", ["s3://bucket/out", "hdfs://nn:8020/out",
                                     "file:///tmp/out"])
def test_non_local_output_rejected(tmp_path, monkeypatch, out_dir):
    """Manifests are committed with os calls on the driver: for a URI
    output they would land in a local directory named after the scheme
    while Spark wrote the data elsewhere. The job refuses a URI before
    touching the input (``pages=None`` would fail on first use) or
    creating any file."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local paths"):
        run_extraction_job(None, None, out_dir)
    assert not (tmp_path / "s3:").exists()
    assert list(tmp_path.iterdir()) == []


class _Killed(Exception):
    """Stands in for the driver dying at a chosen point of a run."""


def _kill_after_write(monkeypatch):
    from pyspark.sql import DataFrameWriter

    real = DataFrameWriter.parquet

    def write_then_die(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise _Killed

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_die)


def _kill_mid_manifests(monkeypatch):
    import open_ocr_spark.pipeline.job as job

    real, done = job.commit_bucket, []

    def commit_twice_then_die(*args, **kwargs):
        if len(done) == 2:
            raise _Killed
        done.append(real(*args, **kwargs))

    monkeypatch.setattr(job, "commit_bucket", commit_twice_then_die)


def _kill_before_snapshot(monkeypatch):
    import open_ocr_spark.pipeline.job as job

    def die(*args, **kwargs):
        raise _Killed

    monkeypatch.setattr(job, "write_snapshot", die)


@pytest.mark.parametrize(
    "kill", [_kill_after_write, _kill_mid_manifests, _kill_before_snapshot],
    ids=["after-write", "mid-manifests", "before-snapshot"],
)
def test_killed_run_is_uncommitted_and_resume_is_exact(spark, tmp_path,
                                                       monkeypatch, kill):
    """The snapshot is the commit point: a run killed anywhere before it
    commits nothing and its rows stay invisible to ``read_extracted``. The
    resume recomputes all of that run's buckets, deletes its data
    directory, and leaves every golden url on disk exactly once."""
    import os

    import duckdb

    from open_ocr_spark.fixtures import generate_pages

    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")
    run_extraction_job(spark, pages, out, num_buckets=BUCKETS, max_buckets=2)
    before = sorted(read_extracted(spark, out).collect())
    with monkeypatch.context() as m:
        kill(m)
        with pytest.raises(_Killed):
            run_extraction_job(spark, pages, out, num_buckets=BUCKETS)
    assert len(os.listdir(os.path.join(out, "data"))) == 2
    assert len(committed_buckets(out)) == 2
    assert sorted(read_extracted(spark, out).collect()) == before

    resumed = run_extraction_job(spark, pages, out, num_buckets=BUCKETS)
    assert resumed["buckets_processed"] == BUCKETS - 2
    golden = sorted((g["url"], g["extracted_text"], g["status"])
                    for g in generate_pages(N_ROWS)[1])
    got = read_extracted(spark, out).select("url", "extracted_text", "status")
    assert sorted(tuple(r) for r in got.collect()) == golden
    on_disk = duckdb.sql(
        "select url, extracted_text, status from "
        f"read_parquet('{out}/data/*/*.parquet')").fetchall()
    assert sorted(on_disk) == golden
    assert len(os.listdir(os.path.join(out, "data"))) == 2
    manifests = read_manifests(out)
    assert len(manifests) == BUCKETS
    assert sum(m["docs_processed"] for m in manifests) == len(golden)


def test_one_data_directory_per_run(spark, tmp_path):
    """A run writes one directory, whatever the bucket count, and its
    snapshot records it."""
    import os

    from open_ocr_spark.pipeline.checkpoint import snapshot_chain

    out = str(tmp_path / "run")
    run_extraction_job(spark, pages_df(spark, N_ROWS), out, num_buckets=64)
    (name,) = os.listdir(os.path.join(out, "data"))
    assert name.startswith("run=")
    assert snapshot_chain(out)[-1]["data_dirs"] == [f"data/{name}"]
    assert len(committed_buckets(out)) == 64


def test_old_bucket_directory_layout_rejected(spark, tmp_path):
    """An output dir in the old ``data/bucket=<k>`` layout raises on
    resume and on read, and is left exactly as it was."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "old"
    os.makedirs(out / "data" / "bucket=0")
    os.makedirs(out / "manifests")
    pq.write_table(pa.table({"url": ["u"], "extracted_text": ["t"],
                             "status": ["ok"]}),
                   out / "data" / "bucket=0" / "part-0.parquet")
    with open(out / "manifests" / "bucket=0.json", "w") as f:
        json.dump({"bucket": 0, "num_buckets": 4, "docs_processed": 1}, f)

    def tree():
        return {str(p): p.read_bytes() for p in out.rglob("*") if p.is_file()}

    before = tree()
    with pytest.raises(ValueError, match="bucket="):
        run_extraction_job(spark, pages_df(spark, 20), str(out), num_buckets=4)
    with pytest.raises(ValueError, match="bucket="):
        read_extracted(spark, str(out))
    assert tree() == before


def test_run_ingests_its_input_once(spark, tmp_path, monkeypatch):
    import open_ocr_spark.pipeline.job as job

    calls = []
    real = job.ingest

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(job, "ingest", counting)
    run_extraction_job(spark, pages_df(spark, 20), str(tmp_path / "run"),
                       num_buckets=2)
    assert len(calls) == 1
