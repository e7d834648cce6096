"""Sources (the parquet relation memo included), sink round-trips and the B4
plot utility."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import BinaryType, StringType

from pyspark_ml_features_spark.plans.profile import profile
from pyspark_ml_features_spark.session import tune_session
from pyspark_ml_features_spark.sources import parquet_scan, table
from pyspark_ml_features_spark.sources.io import INFERENCE_CONFS, TABLES
from pyspark_ml_features_spark.sources.sinks import write_csv, write_parquet
from tests.conftest import SF_DIR, SMOKE_SF_DIR


def test_repeated_table_call_launches_no_job(spark, tmp_path):
    # the counter sees inference jobs: a path read for the first time
    path = str(tmp_path / "fresh.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first = profile(spark, lambda: parquet_scan(spark, path)).jobs
    assert first >= 1, "the first read of a path must infer its schema"

    table(spark, SMOKE_SF_DIR, "lineitem")
    jobs = profile(spark, lambda: table(spark, SMOKE_SF_DIR, "lineitem")).jobs
    assert jobs == 0, f"a repeated table() call launched {jobs} jobs"
    assert table(spark, SMOKE_SF_DIR, "lineitem").count() > 0


def test_events_read_keeps_other_tables_memoized(spark):
    # a fresh session, tuned as every query build tunes it: reading events
    # must not change a conf in the memo key, or the next lineitem read
    # resolves lineitem a second time
    fresh = tune_session(spark.newSession())
    table(fresh, SMOKE_SF_DIR, "lineitem")
    table(fresh, SMOKE_SF_DIR, "events")
    jobs = profile(fresh, lambda: table(fresh, SMOKE_SF_DIR, "lineitem")).jobs
    assert jobs == 0, f"lineitem was resolved again after events ({jobs} jobs)"
    assert len(fresh._pmfs_relations) == 2


def test_memoized_schema_equals_inferred_schema(spark):
    for name in TABLES:
        path = os.path.join(SMOKE_SF_DIR, f"{name}.parquet")
        parquet_scan(spark, path)
        jobs = profile(spark, lambda: parquet_scan(spark, path)).jobs
        assert jobs == 0, f"{name}: a memoized read launched {jobs} jobs"
        memo = parquet_scan(spark, path)
        assert memo.schema == spark.read.parquet(path).schema, name


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_is_inferred_afresh(spark, tmp_path, layout):
    # a directory table: rewriting a file in place leaves the directory's
    # own mtime unchanged, so the key must cover the files under it
    path = str(tmp_path / "rewritten.parquet")
    data = path
    if layout == "directory":
        os.makedirs(path)
        data = os.path.join(path, "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), data)
    assert parquet_scan(spark, path).dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), data)
    df = parquet_scan(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "binary.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(conf, "false")
        assert parquet_scan(spark, path).schema["b"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        as_string = parquet_scan(spark, path)
        assert as_string.schema["b"].dataType == StringType()
        assert as_string.collect()[0]["b"] == "ab"
        spark.conf.set(conf, "false")
        assert parquet_scan(spark, path).schema["b"].dataType == BinaryType()
    finally:
        spark.conf.unset(conf)


def test_read_through_removed_symlink_keeps_the_file_readable(spark, tmp_path):
    # the memo is keyed by the resolved path, so the relation it holds must
    # read the resolved path too: a link removed after the first read must
    # not break later reads of the same file
    real = tmp_path / "real"
    real.mkdir()
    shutil.copy(os.path.join(SMOKE_SF_DIR, "nation.parquet"), real)
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    assert parquet_scan(spark, str(link / "nation.parquet")).count() == 25
    link.unlink()
    assert parquet_scan(spark, str(real / "nation.parquet")).count() == 25


def test_two_scans_of_one_table_self_join(spark):
    a = table(spark, SMOKE_SF_DIR, "nation")
    b = table(spark, SMOKE_SF_DIR, "nation")
    assert a.join(b, a.n_nationkey == b.n_nationkey).count() == 25
    # five nations per region: 5 x C(5, 2) ordered-by-key pairs
    pairs = a.join(b, (a.n_regionkey == b.n_regionkey)
                   & (a.n_nationkey < b.n_nationkey))
    assert pairs.count() == 50


def _relation_and_ids(df):
    """(identity hash of the scan's HadoopFsRelation, output attribute ids)."""
    plan = df._jdf.queryExecution().analyzed()
    out = plan.output()
    ids = [out.apply(i).exprId().id() for i in range(out.size())]
    return df._sc._jvm.java.lang.System.identityHashCode(plan.relation()), ids


def test_table_calls_share_one_relation_per_session(spark):
    rel_a, ids_a = _relation_and_ids(table(spark, SMOKE_SF_DIR, "nation"))
    rel_b, ids_b = _relation_and_ids(table(spark, SMOKE_SF_DIR, "nation"))
    assert rel_a == rel_b, "a repeated table() call resolved its relation again"
    assert not set(ids_a) & set(ids_b), "two table() calls share attribute ids"

    other = spark.newSession()
    for conf in INFERENCE_CONFS:  # the same key, so only the session differs
        other.conf.set(conf, spark.conf.get(conf))
    rel_c, _ = _relation_and_ids(table(other, SMOKE_SF_DIR, "nation"))
    rel_d, _ = _relation_and_ids(table(other, SMOKE_SF_DIR, "nation"))
    assert rel_c != rel_a, "a new session was handed the first session's relation"
    assert rel_c == rel_d


def test_parquet_sink_partitioned_roundtrip(spark):
    d = table(spark, SF_DIR, "documents")
    out = os.path.join(tempfile.mkdtemp(), "docs_by_lang")
    write_parquet(d, out, partition_by=["lang"], coalesce_to=2)
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    assert sorted(p for p in os.listdir(out) if p.startswith("lang="))
    # partition pruning works on the written layout — and is visible in the
    # plan: the lang predicate must prune directories, not filter rows
    en = back.filter(F.col("lang") == "en")
    assert en.count() == d.filter(F.col("lang") == "en").count()
    plan = en._sc._jvm.PythonSQLUtils.explainString(
        en._jdf.queryExecution(), "formatted")
    flat = plan.replace("\n", " ")
    assert "PartitionFilters" in flat and "lang" in flat.split(
        "PartitionFilters", 1)[1][:120], "lang= filter must prune partitions"


def test_python_datasource_partition_planning(spark):
    """The custom Python source must be read as the partition count it
    declares — the property that makes it a distributed source, not a
    single-task generator."""
    from pyspark_ml_features_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    df = (spark.read.format("synthetic_docs")
          .option("n", 1000).option("partitions", 8).load())
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    # ragged final partition: n not divisible by partitions still covers all
    df2 = (spark.read.format("synthetic_docs")
           .option("n", 10).option("partitions", 4).load())
    assert df2.count() == 10


def test_csv_sink_roundtrip(spark):
    n = table(spark, SF_DIR, "nation")
    out = os.path.join(tempfile.mkdtemp(), "nation_csv")
    write_csv(n, out)
    back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert back.count() == 25
    assert set(back.columns) == set(n.columns)


def test_plot_validation_curves(tmp_path):
    from pyspark_ml_features_spark.operators.ml import plot_validation_curves

    target = tmp_path / "curve.png"
    try:
        plot_validation_curves([1e-3, 1e-2, 1e-1], [0.7, 0.8, 0.75],
                               save_path=str(target))
    except NotImplementedError:
        pytest.skip("matplotlib not installed")
    assert target.exists() and target.stat().st_size > 0


def test_orc_roundtrip_matches_parquet(spark):
    from pyspark_ml_features_spark import registry

    orc = registry.all_queries()["a12_orc_roundtrip"].fn(spark, SF_DIR)
    parquet = table(spark, SF_DIR, "nation")
    assert orc.count() == parquet.count()
    assert set(orc.columns) == set(parquet.columns)


def test_parquet_zstd_compression(spark, tmp_path):
    d = table(spark, SF_DIR, "documents")
    out = str(tmp_path / "zstd_out")
    d.write.option("compression", "zstd").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == d.count()


def test_python_streaming_datasource_drains_exactly(spark):
    """The custom Python stream source must deliver each event exactly once
    across micro-batches (offset-tracked), and the drained rows must equal
    the deterministic generator formula."""
    import time

    from pyspark_ml_features_spark.sources.pyds import (
        _event, register_python_sources)

    register_python_sources(spark)
    stream = (spark.readStream.format("synthetic_events")
              .option("n", 100).option("batch_size", 25).load())
    q = (stream.writeStream.format("memory").queryName("pyds_events")
         .outputMode("append").trigger(processingTime="250 milliseconds")
         .start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("pyds_events").count() >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("pyds_events").collect())
    want = sorted(_event(i) for i in range(100))
    assert got == want


def test_jsonl_sink_manifest_exactly_once(spark):
    """The jsonl_sink commit protocol (ADVICE r4 medium): (1) a second
    overwrite-mode invocation replaces rather than doubles the data;
    (2) an orphan file from a simulated retried/speculative task attempt
    is invisible to manifest-based read-back and swept by the next
    commit."""
    import json

    from pyspark_ml_features_spark.sources.pyds import (
        MANIFEST_NAME, jsonl_manifest_files, register_python_sources)

    register_python_sources(spark)
    out = os.path.join(tempfile.mkdtemp(), "jsonl_sink_once")
    d = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    n = d.count()

    schema = "doc_id bigint, lang string, text string"
    for _ in range(2):  # idempotent under re-invocation
        d.write.format("jsonl_sink").option("path", out) \
            .mode("overwrite").save()
        back = spark.read.schema(schema).json(jsonl_manifest_files(out))
        assert back.count() == n

    # Simulate an orphan attempt file landing AFTER commit: it must not
    # be readable through the manifest...
    orphan = os.path.join(out, "part-deadbeef-orphan.json")
    with open(orphan, "w") as f:
        f.write(json.dumps({"doc_id": -1, "lang": "xx", "text": "ghost"})
                + "\n")
    files = jsonl_manifest_files(out)
    assert orphan not in files
    assert spark.read.schema(schema).json(files).count() == n
    # ...and the next commit sweeps it.
    d.write.format("jsonl_sink").option("path", out) \
        .mode("overwrite").save()
    assert not os.path.exists(orphan)
    with open(os.path.join(out, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    on_disk = {p for p in os.listdir(out) if p != MANIFEST_NAME}
    assert on_disk == set(manifest["files"])


def test_jsonl_sink_append_merges_manifest(spark):
    """Append mode unions the new commit's files with the previous
    manifest — two appends read back as exactly 2n rows — and its orphan
    sweep is scoped to the committing job's own attempt files (ADVICE
    r5): a concurrently running job's not-yet-committed attempt file
    must survive another job's append commit (only OVERWRITE, whose
    contract is replace-the-directory, may delete foreign files)."""
    import json

    from pyspark_ml_features_spark.sources.pyds import (
        jsonl_manifest_files, register_python_sources)

    register_python_sources(spark)
    out = os.path.join(tempfile.mkdtemp(), "jsonl_sink_append")
    d = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    n = d.count()
    d.write.format("jsonl_sink").option("path", out) \
        .mode("append").save()
    # A second, concurrent writer's in-flight attempt (job id this job
    # will never mint): uncommitted, so invisible to readers — but it
    # must still be ON DISK after our next append commit.
    concurrent = os.path.join(out, "part-otherjob00000-attempt.json")
    with open(concurrent, "w") as f:
        f.write(json.dumps({"doc_id": -2, "lang": "yy", "text": "inflight"})
                + "\n")
    d.write.format("jsonl_sink").option("path", out) \
        .mode("append").save()
    assert os.path.exists(concurrent), (
        "append commit deleted a concurrent job's in-flight attempt file")
    files = jsonl_manifest_files(out)
    assert concurrent not in files
    back = spark.read.schema("doc_id bigint, lang string, text string") \
        .json(files)
    assert back.count() == 2 * n


def test_jsonl_sink_append_gcs_stale_foreign_orphans(spark):
    """Foreign-orphan GC (ADVICE r6): an attempt file left by a job that
    crashed before commit is never claimed by any manifest, so an append
    commit must age-gate it — a RECENT foreign file survives (could be a
    live concurrent job), one older than orphan_ttl_sec is removed."""
    import json

    from pyspark_ml_features_spark.sources.pyds import (
        jsonl_manifest_files, register_python_sources)

    register_python_sources(spark)
    out = os.path.join(tempfile.mkdtemp(), "jsonl_sink_gc")
    d = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text") \
        .limit(10)
    d.write.format("jsonl_sink").option("path", out).mode("append").save()

    def plant(name, age_sec):
        p = os.path.join(out, name)
        with open(p, "w") as f:
            f.write(json.dumps({"doc_id": -3, "lang": "zz", "text": "dead"})
                    + "\n")
        old = time.time() - age_sec
        os.utime(p, (old, old))
        return p

    import time
    stale = plant("part-crashedjob00-attempt.json", 7200)
    recent = plant("part-livejob00000-attempt.json", 10)
    # TTL of 1h: the 2h-old crash debris goes, the 10s-old in-flight stays.
    d.write.format("jsonl_sink").option("path", out) \
        .option("orphan_ttl_sec", "3600").mode("append").save()
    assert not os.path.exists(stale), "stale foreign orphan not GC'd"
    assert os.path.exists(recent), "recent foreign attempt wrongly swept"
    # GC disabled: even ancient debris survives.
    ancient = plant("part-crashedjob11-attempt.json", 10 * 86400)
    d.write.format("jsonl_sink").option("path", out) \
        .option("orphan_ttl_sec", "0").mode("append").save()
    assert os.path.exists(ancient), "orphan_ttl_sec=0 must disable the GC"
    # Reader correctness is unaffected throughout: 3 committed appends.
    files = jsonl_manifest_files(out)
    back = spark.read.schema("doc_id bigint, lang string, text string") \
        .json(files)
    assert back.count() == 30


def test_jsonl_sink_staging_gc_keyed_on_job_liveness(spark):
    """ADVICE r7: the foreign-orphan GC must key on JOB liveness (the
    staging dir's newest mtime), not per-file age — a live concurrent
    appender whose FIRST attempt file is older than the TTL but whose
    staging dir shows recent activity keeps all its in-flight files; a
    staging dir with no activity for a full TTL is crash debris and is
    removed whole."""
    import json
    import time

    from pyspark_ml_features_spark.sources.pyds import (
        register_python_sources)

    register_python_sources(spark)
    out = os.path.join(tempfile.mkdtemp(), "jsonl_sink_staging_gc")
    d = table(spark, SF_DIR, "documents").select("doc_id", "lang", "text") \
        .limit(10)
    d.write.format("jsonl_sink").option("path", out).mode("append").save()

    def plant_staging(job, file_ages):
        sdir = os.path.join(out, f"_staging-{job}")
        os.makedirs(sdir)
        paths = []
        for i, age in enumerate(file_ages):
            p = os.path.join(sdir, f"part-{job}-{i}.json")
            with open(p, "w") as f:
                f.write(json.dumps({"doc_id": -9}) + "\n")
            old = time.time() - age
            os.utime(p, (old, old))
            paths.append(p)
        old = time.time() - max(file_ages)
        os.utime(sdir, (old, old))
        return sdir, paths

    # Live job: first attempt 2h old, latest 10s old — survives a 1h TTL
    # (under the r6 per-file scheme the 2h file would have been swept).
    live_dir, live_files = plant_staging("livejob000000", [7200, 10])
    # Crashed job: newest activity 2h old — swept whole.
    dead_dir, _ = plant_staging("deadjob000000", [9000, 7200])
    d.write.format("jsonl_sink").option("path", out) \
        .option("orphan_ttl_sec", "3600").mode("append").save()
    assert all(os.path.exists(p) for p in live_files), \
        "live job's in-flight attempts must survive the GC"
    assert not os.path.exists(dead_dir), "stale staging dir not GC'd"
    # After this job's own commit, its staging dir is gone and every
    # committed file sits at the root, vouched for by the manifest.
    assert not any(n.startswith("_staging-") and "livejob" not in n
                   and "deadjob" not in n for n in os.listdir(out))
