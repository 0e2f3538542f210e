"""Checkpoint/resume: idempotency and complement-only processing
(FIXTURES.md §4; SURVEY.md §5.4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.pipeline.checkpoint import bucket_expr, read_output, run_resumable
from ocr_service_spark.pipeline.extract import load_inputs

N_BUCKETS = 8


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def test_resume_processes_only_complement(spark, dataset, tmp_path):
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "run")
    cfg = ExtractConfig(run_id="r1")

    n_docs = docs.count()

    # first run: everything
    s1 = run_resumable(spark, docs, media, out_dir, cfg, n_buckets=N_BUCKETS)
    assert s1["processed_docs"] == n_docs
    assert s1["processed_buckets"] == N_BUCKETS

    # second run: checkpoint says complete → no work
    s2 = run_resumable(spark, docs, media, out_dir, cfg, n_buckets=N_BUCKETS)
    assert s2 == {
        "processed_docs": 0,
        "processed_buckets": 0,
        "ocr_chars": 0,
        "ocr_partitions": 0,
        "ocr_partition_balance": None,
    }

    # sabotage: drop half the checkpoint rows (simulates dying mid-run)
    ckpt_path = f"{out_dir}/_checkpoint"
    ckpt_df = spark.read.parquet(ckpt_path)
    ckpt, ckpt_schema = ckpt_df.collect(), ckpt_df.schema
    kept = [r for r in ckpt if int(r["partition_key"]) < N_BUCKETS // 2]
    import shutil

    shutil.rmtree(ckpt_path)
    spark.createDataFrame(kept, ckpt_schema).write.parquet(ckpt_path)

    s3 = run_resumable(spark, docs, media, out_dir, cfg, n_buckets=N_BUCKETS)
    assert 0 < s3["processed_docs"] < n_docs
    assert s3["processed_buckets"] == N_BUCKETS - len(kept)

    # final output == golden, no duplicates
    out = read_output(spark, out_dir)
    assert out.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    got = _seqs(out.collect())
    golden = _seqs(spark.read.parquet(dataset["golden"]).collect())
    assert got == golden


def test_recognitions_table_written(spark, dataset, tmp_path):
    """run_resumable writes the per-blob recognition record table
    (reference recognition_results analog, schema.ts:31-58): every blob
    gets a status, OCR rows carry engine+confidence, QR short-circuits
    carry qr_data/qr_format, and processing_ms is populated."""
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "rec-run")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="rec"), n_buckets=N_BUCKETS)
    rec = spark.read.parquet(f"{out_dir}/recognitions")
    n_blobs = media.count()
    assert rec.count() == n_blobs
    assert rec.filter(F.col("status").isNull()).count() == 0
    ocr = rec.filter(F.col("kind") == "media_text").filter(F.col("status") == "completed")
    assert ocr.filter(F.col("engine").isNull() | F.col("confidence").isNull()).count() == 0
    qr = rec.filter(F.col("kind") == "qr")
    if qr.count():
        assert qr.filter(F.col("qr_data").isNull() | F.col("qr_format").isNull()).count() == 0
        assert qr.filter(F.col("engine").isNotNull()).count() == 0  # short-circuit skipped OCR
        # qr_location {x,y,width,height} round-trips through the sink
        # (reference persists it as jsonb, schema.ts:48) and matches the
        # blob's embedded annotation
        assert qr.filter(F.col("qr_location").isNull()).count() == 0
        assert (
            qr.filter(
                (F.col("qr_location.width") <= 0) | (F.col("qr_location.height") <= 0)
            ).count()
            == 0
        )
        from ocr_service_spark.kernels.media import decode_simg

        sample = qr.select("media_ref", "qr_location").limit(3).collect()
        blobs = {
            r["media_ref"]: bytes(r["content"])
            for r in media.filter(
                F.col("media_ref").isin([s["media_ref"] for s in sample])
            ).collect()
        }
        for s in sample:
            meta, _ = decode_simg(blobs[s["media_ref"]])
            x, y, w, h = meta["qr"]["location"]
            loc = s["qr_location"]
            assert (loc["x"], loc["y"], loc["width"], loc["height"]) == (x, y, w, h)
    assert rec.filter(F.col("processing_ms").isNull()).count() == 0
    assert rec.select("run_id").distinct().collect()[0][0] == "rec"
    # healthy run: every record from a first task attempt (schema.ts:53)
    assert rec.filter(F.col("attempt_number") != 1).count() == 0


def test_metrics_sideband_written_with_balance(spark, dataset, tmp_path):
    """run_resumable persists the per-OCR-partition metrics sideband
    (north rule: "lineage + per-partition metrics (docs, spans, OCR
    chars, model latency)") and the job summary carries the measured
    straggler balance of the cost cut (max/avg of per-partition kernel
    wall)."""
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "metrics-run")
    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    s = run_resumable(
        spark, docs, media, out_dir, ExtractConfig(run_id="m1"), n_buckets=N_BUCKETS
    )
    # the run released every frame it cached
    assert jsc.getPersistentRDDs().size() == cached_before
    # the summary's OCR chars are the lineage rows' (media chars per span)
    ckpt = spark.read.parquet(f"{out_dir}/_checkpoint")
    ckpt_chars = ckpt.agg(F.sum("ocr_chars")).collect()[0][0]
    assert s["ocr_chars"] == ckpt_chars > 0
    m = spark.read.parquet(f"{out_dir}/_metrics").filter(F.col("run_id") == "m1")
    worked = m.filter(F.col("kernel_ms_sum").isNotNull())
    assert worked.count() == s["ocr_partitions"] > 0
    # every blob is counted exactly once across partitions
    assert worked.agg(F.sum("n_blobs")).collect()[0][0] == media.count()
    # latency stats are internally consistent: p50 <= max <= sum
    bad = worked.filter(
        (F.col("kernel_ms_p50") > F.col("kernel_ms_max"))
        | (F.col("kernel_ms_max") > F.col("kernel_ms_sum"))
    )
    assert bad.count() == 0
    # every worked partition times its blob reads apart from its kernels
    assert worked.filter(F.col("read_ms_sum").isNull() | (F.col("read_ms_sum") < 0)).count() == 0
    # balance = max/avg of kernel_ms_sum, >= 1.0 by construction
    assert s["ocr_partition_balance"] >= 1.0
    sums = [r["kernel_ms_sum"] for r in worked.collect()]
    assert abs(s["ocr_partition_balance"] - max(sums) / (sum(sums) / len(sums))) < 0.01
    # a resume with nothing to do writes no new metrics rows
    s2 = run_resumable(
        spark, docs, media, out_dir, ExtractConfig(run_id="m2"), n_buckets=N_BUCKETS
    )
    assert s2["processed_docs"] == 0
    assert (
        spark.read.parquet(f"{out_dir}/_metrics")
        .filter(F.col("run_id") == "m2")
        .count()
        == 0
    )


def test_recognitions_no_duplicates_on_partial_resume(spark, dataset, tmp_path):
    """A partial resume decodes only the blobs its todo buckets'
    documents reference, and appends recognition records ONLY for the
    buckets it actually processed — no duplicate blob records across
    runs."""
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "rec-resume")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="a"), n_buckets=N_BUCKETS)
    # drop half the checkpoint → those buckets become TODO again
    ckpt = spark.read.parquet(f"{out_dir}/_checkpoint")
    keep = ckpt.filter(F.col("partition_key").cast("int") < N_BUCKETS // 2)
    keep.write.mode("overwrite").parquet(f"{out_dir}/_ckpt_tmp")
    spark.read.parquet(f"{out_dir}/_ckpt_tmp").write.mode("overwrite").parquet(
        f"{out_dir}/_checkpoint"
    )
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="b"), n_buckets=N_BUCKETS)
    rec = spark.read.parquet(f"{out_dir}/recognitions")
    dups = (
        rec.groupBy("media_ref").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    assert rec.count() == media.count()  # every blob recorded exactly once
    todo_refs = (
        docs.filter(bucket_expr(N_BUCKETS) >= N_BUCKETS // 2)
        .select(F.explode("spans.media_ref").alias("media_ref"))
        .filter(F.col("media_ref").isNotNull())
        .distinct()
        .count()
    )
    decoded = (
        spark.read.parquet(f"{out_dir}/_metrics")
        .filter(F.col("run_id") == "b")
        .agg(F.sum("n_blobs"))
        .collect()[0][0]
    )
    assert 0 < decoded == todo_refs < media.count()


def test_blob_shared_across_buckets_decodes_once(spark, dataset, tmp_path):
    """A blob that documents in two buckets reference is decoded once and
    gets one recognition record per bucket, both with that decode's
    processing_ms; both documents come out golden."""
    docs, media = load_inputs(spark, os.path.dirname(dataset["documents"]))
    src = (
        docs.filter(F.exists("spans", lambda s: s["kind"] == "media"))
        .orderBy("doc_id")
        .first()
    )
    ids = spark.createDataFrame([(f"{src['doc_id']}-{i}",) for i in range(16)], "doc_id string")
    bucket_of = dict(ids.unionByName(docs.select("doc_id")).select(
        "doc_id", bucket_expr(N_BUCKETS)
    ).collect())
    copy_id = next(d for d, b in bucket_of.items() if b != bucket_of[src["doc_id"]])
    pair = spark.createDataFrame([src, (copy_id, src["spans"])], docs.schema)
    refs = {s["media_ref"] for s in src["spans"] if s["kind"] == "media"}

    out_dir = str(tmp_path / "shared")
    run_resumable(spark, pair, media, out_dir, ExtractConfig(run_id="sh"), n_buckets=N_BUCKETS)
    decoded = spark.read.parquet(f"{out_dir}/_metrics").agg(F.sum("n_blobs")).collect()[0][0]
    assert decoded == len(refs)
    rec = spark.read.parquet(f"{out_dir}/recognitions").collect()
    assert sorted((r["media_ref"], r["bucket"]) for r in rec) == sorted(
        (ref, bucket_of[d]) for ref in refs for d in (src["doc_id"], copy_id)
    )
    for ref in refs:
        assert len({r["processing_ms"] for r in rec if r["media_ref"] == ref}) == 1
    golden = _seqs(spark.read.parquet(dataset["golden"]).collect())[src["doc_id"]]
    got = _seqs(read_output(spark, out_dir).collect())
    assert got == {src["doc_id"]: golden, copy_id: golden}


@pytest.fixture(scope="module")
def full_run(spark, dataset, tmp_path_factory):
    """One first full run, shared by the layout and lineage tests below."""
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path_factory.mktemp("full") / "run")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="full"), n_buckets=N_BUCKETS)
    return out_dir


def _data_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_write_layout_one_file_per_bucket_from_its_hash_slot(spark, full_run):
    """The reassembly shuffle is the write layout: each bucket is whole in
    one of defaultParallelism hash partitions, so every extracted/ bucket
    directory holds one file, written by the task its partition names,
    and a run appends one _checkpoint/ file."""
    par = spark.sparkContext.defaultParallelism
    out = f"{full_run}/extracted"
    dirs = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert len(dirs) == N_BUCKETS
    slot = {
        r["b"]: r["p"]
        for r in spark.range(N_BUCKETS)
        .select(
            F.col("id").cast("int").alias("b"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(par)).alias("p"),
        )
        .collect()
    }
    for d in dirs:
        files = _data_files(f"{out}/{d}")
        assert len(files) == 1, (d, files)
        assert files[0].startswith(f"part-{slot[int(d.split('=')[1])]:05d}-"), (d, files)
    assert len(_data_files(f"{full_run}/_checkpoint")) == 1


def test_checkpoint_rows_match_output_aggregates(spark, full_run):
    ckpt = {
        int(r["partition_key"]): r for r in spark.read.parquet(f"{full_run}/_checkpoint").collect()
    }
    ocr_chars = F.aggregate(
        F.filter("spans", lambda s: s["kind"].isin("qr", "media_text")),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), F.lit(0)),
    )
    want = (
        read_output(spark, full_run)
        .groupBy(bucket_expr(N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(ocr_chars).alias("ocr_chars"),
        )
        .collect()
    )
    assert sorted(ckpt) == sorted(r["bucket"] for r in want)
    for r in want:
        row = ckpt[r["bucket"]]
        assert (row["docs"], row["spans"], row["ocr_chars"]) == (
            r["docs"], r["spans"], r["ocr_chars"]
        ), r["bucket"]


def test_checkpoint_kernel_columns_from_recognitions(spark, full_run):
    """_checkpoint/'s kernel_ms_p50/kernel_ms_max summarize the bucket's
    per-blob processing_ms from recognitions/; a bucket without media
    keeps NULL."""
    ckpt = {
        int(r["partition_key"]): r for r in spark.read.parquet(f"{full_run}/_checkpoint").collect()
    }
    rec_max = {
        r["bucket"]: r["mx"]
        for r in spark.read.parquet(f"{full_run}/recognitions")
        .groupBy("bucket")
        .agg(F.max("processing_ms").alias("mx"))
        .collect()
    }
    media_buckets = {
        r["bucket"]
        for r in spark.read.parquet(f"{full_run}/extracted")
        .select("bucket", F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref").isNotNull())
        .select("bucket")
        .distinct()
        .collect()
    }
    assert media_buckets and media_buckets == set(rec_max)
    for b, row in ckpt.items():
        if b not in media_buckets:
            assert row["kernel_ms_p50"] is None and row["kernel_ms_max"] is None
            continue
        assert row["kernel_ms_p50"] is not None and row["kernel_ms_max"] is not None
        assert row["kernel_ms_p50"] <= row["kernel_ms_max"]
        assert row["kernel_ms_max"] == rec_max[b]


def test_media_task_runs_once_per_run(spark, full_run):
    """recognitions/ and _metrics/ read one OCR pass: each blob's
    processing_ms, summed, equals the partitions' kernel_ms_sum up to
    their 3-decimal rounding. A second pass would time every blob anew."""
    rec = spark.read.parquet(f"{full_run}/recognitions").dropDuplicates(["media_ref"])
    rec_ms, blobs = rec.agg(F.sum("processing_ms"), F.count("*")).collect()[0]
    m = spark.read.parquet(f"{full_run}/_metrics").filter(F.col("kernel_ms_sum").isNotNull())
    metrics_ms, tasks = m.agg(F.sum("kernel_ms_sum"), F.count("*")).collect()[0]
    assert blobs > 0 and tasks > 0
    assert abs(rec_ms - metrics_ms) <= 1e-3 * (blobs + tasks), (rec_ms, metrics_ms)


def test_crash_before_checkpoint_append_reruns_idempotently(spark, dataset, tmp_path, monkeypatch):
    """A run that dies after writing extracted/ and recognitions/ but
    before appending _checkpoint/ leaves no checkpoint rows and no cached
    frame; the rerun redoes every bucket and leaves no duplicates."""
    from pyspark.sql.readwriter import DataFrameWriter

    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "crash")
    parquet = DataFrameWriter.parquet

    def crash_on_checkpoint(self, path, *a, **kw):
        if path.endswith("/_checkpoint"):
            raise RuntimeError("injected crash before the checkpoint append")
        return parquet(self, path, *a, **kw)

    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_checkpoint)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="c1"), n_buckets=N_BUCKETS)
    monkeypatch.undo()
    assert _data_files(f"{out_dir}/extracted/bucket=0")
    assert spark.read.parquet(f"{out_dir}/recognitions").count() > 0
    assert not os.path.exists(f"{out_dir}/_checkpoint")
    # the failed run released what it cached
    assert jsc.getPersistentRDDs().size() == cached_before

    s = run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="c2"), n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == N_BUCKETS
    out = read_output(spark, out_dir)
    assert out.count() == docs.count()
    assert _seqs(out.collect()) == _seqs(spark.read.parquet(dataset["golden"]).collect())
    out_path = f"{out_dir}/extracted"
    for d in os.listdir(out_path):
        if d.startswith("bucket="):
            assert len(_data_files(f"{out_path}/{d}")) == 1, d
    assert spark.read.parquet(f"{out_dir}/recognitions").count() == media.count()
    ckpt = spark.read.parquet(f"{out_dir}/_checkpoint").collect()
    assert sorted(int(r["partition_key"]) for r in ckpt) == list(range(N_BUCKETS))
    assert {r["status"] for r in ckpt} == {"completed"}


def test_resume_from_another_session_keeps_every_document(spark, dataset, tmp_path):
    """A resume whose documents belong to another session (as a
    foreachBatch micro-batch does) overwrites only its own buckets: the
    completed buckets' output survives, and the caller's session conf is
    left as it was."""
    data_dir = os.path.dirname(dataset["documents"])
    docs, media = load_inputs(spark, data_dir)
    out_dir = str(tmp_path / "other-session")
    run_resumable(spark, docs, media, out_dir, ExtractConfig(run_id="s1"), n_buckets=N_BUCKETS)
    ckpt_path = f"{out_dir}/_checkpoint"
    ckpt = spark.read.parquet(ckpt_path)
    ckpt.filter(F.col("partition_key").cast("int") >= N_BUCKETS // 2).write.parquet(
        f"{out_dir}/_ckpt_tmp"
    )
    spark.read.parquet(f"{out_dir}/_ckpt_tmp").write.mode("overwrite").parquet(ckpt_path)

    key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(key)
    other_docs = spark.newSession().read.parquet(dataset["documents"])
    s = run_resumable(
        spark, other_docs, media, out_dir, ExtractConfig(run_id="s2"), n_buckets=N_BUCKETS
    )
    assert s["processed_buckets"] == N_BUCKETS // 2
    assert spark.conf.get(key) == conf_before
    got = _seqs(read_output(spark, out_dir).collect())
    assert got == _seqs(spark.read.parquet(dataset["golden"]).collect())


def test_missing_checkpoint_is_not_read(spark, tmp_path, monkeypatch):
    """Before the first checkpoint append, read_completed_buckets answers
    None from the file system, without a failing spark.read; a directory
    without data files holds no completed bucket."""
    from pyspark.sql import SparkSession

    from ocr_service_spark.pipeline.checkpoint import read_completed_buckets

    def no_read(self):
        raise AssertionError("spark.read called for a missing checkpoint")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    assert read_completed_buckets(spark, str(tmp_path / "none" / "_checkpoint")) is None
    monkeypatch.undo()
    # a first append that died mid-write leaves only its _temporary/ dir
    (tmp_path / "crashed" / "_checkpoint" / "_temporary").mkdir(parents=True)
    assert read_completed_buckets(spark, str(tmp_path / "crashed" / "_checkpoint")).count() == 0
