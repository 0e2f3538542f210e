"""Cost-model bin cut for the direct media read: the rows of the
(file, row_group) splits are cut in order into contiguous bins of
near-equal estimated cost (_cut_bins). A pathological skew (one giant
split among many small ones) must still produce balanced bins, every row
lands in exactly one bin, and a bin holds at most one range per row
group, so its task decodes each row group it touches once."""

from __future__ import annotations

import math
import random

import pandas as pd
import pyarrow.parquet as pq

from ocr_service_spark.pipeline.extract import (
    TARGET_COST_MS_PER_BIN,
    _bin_count,
    _cut_bins,
    _parquet_files_under,
    _split_blobs,
    _split_cost_ms,
    _splits_from_manifest,
)


def _row_ms(splits):
    return {(p, rg): _split_cost_ms(rows, b) / rows for p, rg, b, rows in splits if rows}


def _bin_costs(bins, splits):
    per_row = _row_ms(splits)
    return [sum(per_row[(p, rg)] * (hi - lo) for p, rg, lo, hi in b) for b in bins]


def _assert_cut(splits, n, bins):
    """The guarantees of _cut_bins for one (splits, n) case."""
    total_rows = sum(rows for *_, rows in splits)
    assert len(bins) == max(1, min(n, total_rows))
    # every row lands in exactly one bin
    placed = sorted((p, rg, r) for b in bins for p, rg, lo, hi in b for r in range(lo, hi))
    assert placed == sorted((p, rg, r) for p, rg, _, rows in splits for r in range(rows))
    if total_rows:
        assert all(b for b in bins)  # no bin is empty
    for b in bins:
        # at most one contiguous range per (path, row_group)
        keys = [(p, rg) for p, rg, _, _ in b]
        assert len(keys) == len(set(keys))
        assert all(lo < hi for _, _, lo, hi in b)
    if total_rows:
        costs = _bin_costs(bins, splits)
        bound = sum(costs) / len(bins) + max(_row_ms(splits).values())
        assert max(costs) <= bound * (1 + 1e-9)


def test_cut_tiles_every_row_exactly_once():
    # a giant row group is cut across bins in contiguous ranges that tile
    # [0, rows) without gap or overlap; a small one stays whole
    splits = [("big.parquet", 3, 100 * 10**6, 100), ("s.parquet", 0, 10**6, 5)]
    bins = _cut_bins(splits, 8)
    _assert_cut(splits, 8, bins)
    big = sorted((lo, hi) for b in bins for p, _, lo, hi in b if p == "big.parquet")
    assert len(big) > 1
    assert big[0][0] == 0 and big[-1][1] == 100
    for prev, nxt in zip(big, big[1:]):
        assert prev[1] == nxt[0]  # contiguous
    assert [r for b in bins for r in b if r[0] == "s.parquet"] == [("s.parquet", 0, 0, 5)]


def test_cut_balances_skewed_splits():
    # 1 giant split (100 rows, 100 MB) + 63 small ones (5 rows, 1 MB)
    splits = [("big.parquet", 0, 100 * 10**6, 100)]
    splits += [(f"s{i}.parquet", 0, 10**6, 5) for i in range(63)]
    bins = _cut_bins(splits, 16)
    assert len(bins) == 16
    assert sum(hi - lo for b in bins for _, _, lo, hi in b) == 100 + 63 * 5
    # the giant split spreads over several bins: no bin exceeds the
    # mean by more than one row's cost
    _assert_cut(splits, 16, bins)


def test_cut_one_group_per_bin_still_balances():
    # #row-groups == #bins with 2x cost variance between groups:
    # indivisible groups would pin max/avg at ~2, the cut keeps it flat
    splits = [(f"g{i}.parquet", 0, 10**6, 16 + (i % 2) * 16) for i in range(32)]
    bins = _cut_bins(splits, 32)
    costs = _bin_costs(bins, splits)
    assert len(bins) == 32
    assert max(costs) / (sum(costs) / len(costs)) < 1.2
    _assert_cut(splits, 32, bins)


def test_cut_more_bins_than_rows_collapses():
    # 4 splits x 5 rows: 32 requested bins collapse to 20 non-empty
    # single-row bins, never below the row count
    splits = [(f"s{i}.parquet", 0, 10**6, 5) for i in range(4)]
    bins = _cut_bins(splits, 32)
    assert len(bins) == 20
    assert all(sum(hi - lo for _, _, lo, hi in b) == 1 for b in bins)


def test_cut_deterministic():
    splits = [(f"s{i}.parquet", i % 3, (i + 1) * 10**5, i + 1) for i in range(20)]
    assert _cut_bins(splits, 7) == _cut_bins(splits, 7)


def test_cut_of_no_rows_is_one_empty_bin():
    # an empty media table still runs one task, which emits one metrics row
    assert _cut_bins([], 8) == [[]]
    assert _cut_bins([("e.parquet", 0, 0, 0)], 8) == [[]]


def test_cut_random_splits_keep_every_guarantee():
    rng = random.Random(7)
    for _ in range(2000):
        splits = [
            (f"f{rng.randrange(3)}.parquet", g, rng.choice([0, rng.randrange(10**8)]),
             rng.choice([0, 1, rng.randrange(1, 40)]))
            for g in range(rng.randrange(1, 12))
        ]
        n = rng.randrange(1, 40)
        _assert_cut(splits, n, _cut_bins(splits, n))


def test_split_blobs_decodes_each_row_group_once_per_bin(dataset, monkeypatch):
    media_dir = dataset["media"]
    splits = _splits_from_manifest(_parquet_files_under(media_dir))
    total = sum(_split_cost_ms(rows, b) for _, _, b, rows in splits)
    bins = _cut_bins(splits, _bin_count(total, 8))
    assert any(len(b) > 1 for b in bins)  # bins span row groups

    calls = []
    iter_batches = pq.ParquetFile.iter_batches

    def counting(self, *args, **kwargs):
        calls.append(tuple(kwargs["row_groups"]))
        return iter_batches(self, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "iter_batches", counting)
    refs, n_calls = [], 0
    for i, b in enumerate(bins):
        calls.clear()
        for got, _ in _split_blobs(bins, iter([pd.DataFrame({"id": [i]})])):
            refs.extend(got)
        assert sorted(calls) == sorted((rg,) for _, rg, _, _ in b)
        n_calls += len(calls)
    # contiguous cuts: only a row group split by a bin boundary is
    # decoded twice, so the table costs at most one decode per row group
    # plus one per boundary
    assert n_calls <= len(splits) + len(bins) - 1
    # the bins read back every blob of the table exactly once
    table_refs = pq.read_table(media_dir, columns=["media_ref"]).column("media_ref")
    assert sorted(refs) == sorted(table_refs.to_pylist())


def test_parse_size_bytes_and_scan_estimate():
    from ocr_service_spark.ops import parse_size_bytes

    assert parse_size_bytes("16m") == 16 << 20
    assert parse_size_bytes("128k") == 128 << 10
    assert parse_size_bytes("1g") == 1 << 30
    assert parse_size_bytes("134217728") == 128 << 20
    assert parse_size_bytes("16MB") == 16 << 20  # case/suffix-insensitive


def test_bin_count_is_one_wave_up_to_slots_times_target():
    # a small job gets exactly one wave of `slots` bins, never several
    # waves of tiny ones
    for slots in (1, 4, 8, 32):
        for cost in (0.0, 1.0, TARGET_COST_MS_PER_BIN, slots * TARGET_COST_MS_PER_BIN):
            assert _bin_count(cost, slots) == slots


def test_bin_count_grows_as_ceil_cost_over_target_in_slot_multiples():
    target = TARGET_COST_MS_PER_BIN
    assert _bin_count(4 * target + 1, 4) == 8
    assert _bin_count(9 * target, 4) == 12
    # the 32-slot history scale: ~108 raw bins round up to 128
    assert _bin_count(107.5 * target, 32) == 128
    for slots in (3, 4, 8, 32):
        for k in range(1, 200, 7):
            raw = math.ceil(k * 1.37)
            n = _bin_count(k * 1.37 * target, slots)
            # the smallest slot multiple that holds ⌈cost/target⌉ bins
            assert n % slots == 0 and raw <= n < raw + slots


def test_bin_count_capped_at_4096():
    assert _bin_count(10**6 * TARGET_COST_MS_PER_BIN, 32) == 4096
    assert _bin_count(4096 * TARGET_COST_MS_PER_BIN, 4) == 4096
    assert _bin_count(4097 * TARGET_COST_MS_PER_BIN, 4) == 4096
