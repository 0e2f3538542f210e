"""Cost-model LPT bin packing: a pathological skew (one giant split
among many small ones) must still produce balanced bins — the guarantee
behind the media stage's straggler-free task layout. Packing operates on
sub-row-group atoms (_atomize_splits), so even a table whose row-group
count matches the bin count retains packing freedom."""

from __future__ import annotations

import math

from ocr_service_spark.pipeline.extract import (
    TARGET_COST_MS_PER_BIN,
    _atomize_splits,
    _bin_count,
    _lpt_pack,
    _split_cost_ms,
)

ATOM_COST_MS = 625.0  # test atomization granularity


def _bin_costs(bins, splits):
    per_row = {
        (p, rg): _split_cost_ms(rows, b) / rows for p, rg, b, rows in splits
    }
    return [
        sum(per_row[(p, rg)] * (hi - lo) for p, rg, lo, hi in b)
        for b in bins
    ]


def test_atomize_partitions_rows_exactly():
    # a giant row group is cut into ~ATOM_COST_MS pieces that tile
    # [0, rows) without gap or overlap; a small one stays whole
    splits = [("big.parquet", 3, 100 * 10**6, 100), ("s.parquet", 0, 10**6, 5)]
    atoms = _atomize_splits(splits, ATOM_COST_MS)
    big = sorted((a for a in atoms if a[1] == "big.parquet"), key=lambda a: a[3])
    assert len(big) > 1
    assert big[0][3] == 0 and big[-1][4] == 100
    for prev, nxt in zip(big, big[1:]):
        assert prev[4] == nxt[3]  # contiguous
    assert all(cost <= ATOM_COST_MS * 2 for cost, *_ in big)
    small = [a for a in atoms if a[1] == "s.parquet"]
    assert small == [(_split_cost_ms(5, 10**6), "s.parquet", 0, 0, 5)]


def test_lpt_balances_skewed_splits():
    # 1 giant split (100 rows, 100 MB) + 63 small ones (5 rows, 1 MB)
    splits = [("big.parquet", 0, 100 * 10**6, 100)]
    splits += [(f"s{i}.parquet", 0, 10**6, 5) for i in range(63)]
    bins = _lpt_pack(splits, 16)
    costs = _bin_costs(bins, splits)
    assert len(bins) == 16
    # every row assigned exactly once
    assert sum(hi - lo for b in bins for _, _, lo, hi in b) == 100 + 63 * 5
    # with sub-group atoms the giant split spreads: max bin within ~25%
    # of the mean (vs 4/3-OPT around one indivisible 10.5 s split before)
    assert max(costs) <= (sum(costs) / 16) * 1.25 + ATOM_COST_MS


def test_lpt_one_group_per_bin_still_balances():
    # the degenerate case the atoms exist for: #row-groups == #bins with
    # 2x cost variance between groups — indivisible groups would pin
    # max/avg at ~2, atoms must pack it flat
    splits = [(f"g{i}.parquet", 0, 10**6, 16 + (i % 2) * 16) for i in range(32)]
    bins = _lpt_pack(splits, 32)
    costs = _bin_costs(bins, splits)
    assert len(bins) == 32
    assert max(costs) / (sum(costs) / len(costs)) < 1.2


def test_lpt_more_bins_than_atoms_collapses():
    # 4 splits x 5 rows: atoms can go down to single rows (20 atoms), so
    # 32 requested bins collapse to 20 non-empty single-row bins — and
    # never below the row count, the hard atomization floor
    splits = [(f"s{i}.parquet", 0, 10**6, 5) for i in range(4)]
    bins = _lpt_pack(splits, 32)
    assert len(bins) == 20
    assert all(sum(hi - lo for _, _, lo, hi in b) == 1 for b in bins)


def test_lpt_deterministic():
    splits = [(f"s{i}.parquet", i % 3, (i + 1) * 10**5, i + 1) for i in range(20)]
    assert _lpt_pack(splits, 7) == _lpt_pack(splits, 7)


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
