"""Split planning: the direct media read is planned from the parquet
footers of the files the scan reads (_footer_splits), so a media file
rewritten in place is planned as it is now, whatever sidecar lies beside
it. write_split_manifest writes those same footer tuples."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from ocr_service_spark.config import ExtractConfig
from ocr_service_spark.datagen import generate
from ocr_service_spark.pipeline.extract import (
    SPLIT_MANIFEST_NAME,
    _direct_read_splits,
    _footer_splits,
    _parquet_files_under,
    load_inputs,
    run_extract,
    write_split_manifest,
)


def _seqs(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def _manifest_rows(path: str) -> list[tuple[str, int, int, int]]:
    tbl = pq.read_table(path)
    return list(zip(*(tbl.column(c).to_pylist() for c in ("file", "row_group", "bytes", "rows"))))


def _named(splits):
    return [(os.path.basename(p), rg, b, rows) for p, rg, b, rows in splits]


def test_manifest_matches_footers(spark, dataset, tmp_path):
    # the planner's splits of a bare scan are the file's footer tuples,
    # and the manifest written for the file holds exactly those
    media_path = str(tmp_path / "media.parquet")
    shutil.copyfile(dataset["media"], media_path)
    splits = _direct_read_splits(spark.read.parquet(media_path))
    assert splits == _footer_splits([media_path])
    assert len(splits) > 1  # row_group_size=16 → many splits
    out = write_split_manifest(media_path)
    assert out == str(tmp_path / SPLIT_MANIFEST_NAME)
    assert _manifest_rows(out) == _named(splits)


def test_write_split_manifest_roundtrip(tmp_path, dataset):
    # a table dir of two files: one manifest row per footer row group of
    # each file, in file order
    d = tmp_path / "tbl"
    d.mkdir()
    shutil.copyfile(dataset["media"], d / "part-0.parquet")
    pq.write_table(pq.read_table(dataset["media"]), d / "part-1.parquet", row_group_size=5)
    out = write_split_manifest(str(d))
    assert os.path.basename(out) == SPLIT_MANIFEST_NAME
    files = _parquet_files_under(str(d))
    assert [os.path.basename(f) for f in files] == ["part-0.parquet", "part-1.parquet"]
    assert _manifest_rows(out) == _named(_footer_splits(files))


def test_media_file_rewritten_in_place_is_planned_from_its_footers(spark, tmp_path):
    """A media file rewritten in place with another row-group layout,
    next to a sidecar written for its old layout, is planned from its own
    footers, and every blob is extracted (a plan of the old 16-row groups
    leaves most blobs unread: their spans come out with null text)."""
    data_dir = str(tmp_path / "rewritten")
    paths = generate(data_dir, 120, seed=5)
    write_split_manifest(paths["media"])
    pq.write_table(pq.read_table(paths["media"]), paths["media"], row_group_size=4)
    n_groups = pq.ParquetFile(paths["media"]).metadata.num_row_groups

    docs, media = load_inputs(spark, data_dir)
    splits = _direct_read_splits(media)
    assert splits is not None and len(splits) == n_groups
    assert sum(rows for *_, rows in splits) == media.count()
    output, _ = run_extract(spark, docs, media, ExtractConfig())
    assert _seqs(output.collect()) == _seqs(spark.read.parquet(paths["golden"]).collect())
