"""Unit tests for the partitioned bloom filter (SURVEY.md J3)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier import bloom


def _hashes(prefix: str, n: int) -> list[str]:
    return [hashlib.sha1(f"{prefix}:{i}".encode()).hexdigest() for i in range(n)]


def test_no_false_negatives(spark):
    inserted = _hashes("in", 500)
    df = spark.createDataFrame([(h,) for h in inserted], ["url_hash"])
    filters = bloom.build_filters(df, 0)
    flagged = bloom.maybe_seen(df, filters)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_low_false_positive_rate(spark):
    inserted = _hashes("in", 500)
    other = _hashes("out", 2000)
    filters = bloom.build_filters(
        spark.createDataFrame([(h,) for h in inserted], ["url_hash"]), 0
    )
    probe = spark.createDataFrame([(h,) for h in other], ["url_hash"])
    fp = bloom.maybe_seen(probe, filters).filter(F.col("maybe_seen")).count()
    assert fp / len(other) < 0.05  # 2^17 bits/partition, k=4, tiny load


def test_merge_is_union(spark):
    a = _hashes("a", 300)
    b = _hashes("b", 300)
    fa = bloom.build_filters(spark.createDataFrame([(h,) for h in a], ["url_hash"]), 0)
    fb = bloom.build_filters(spark.createDataFrame([(h,) for h in b], ["url_hash"]), 1)
    merged = bloom.merge_filters(fa, fb, 1)
    probe = spark.createDataFrame([(h,) for h in a + b], ["url_hash"])
    assert bloom.maybe_seen(probe, merged).filter(~F.col("maybe_seen")).count() == 0
    # idempotent: merging the same filter twice changes nothing
    again = bloom.merge_filters(merged, fb, 2)
    bits1 = {r["partition_id"]: r["bits"] for r in merged.collect()}
    bits2 = {r["partition_id"]: r["bits"] for r in again.collect()}
    assert bits1 == bits2


def _hashes_p0(start: int, stop: int) -> list[str]:
    """Hashes all landing in bloom partition 0 (first 4 hex chars = 0000)."""
    return [
        "0000" + hashlib.sha1(f"p0:{i}".encode()).hexdigest()[4:]
        for i in range(start, stop)
    ]


def test_sizing_tracks_n_items(spark, monkeypatch):
    """Filter bits scale with the inserted item count (ADVICE r1: no more
    fixed 2^17 — at 10^10 items a fixed filter saturates to FPR≈1)."""
    from deepcrawl4ai_spark.frontier import bloom as B

    assert B.size_for(1) == B.MIN_BITS  # floor
    assert B.size_for(10**9) >= 10**9 * B.BITS_PER_ITEM  # tracks n
    assert B.size_for(10**9) & (B.size_for(10**9) - 1) == 0  # power of two
    assert B.est_fpr(0, B.MIN_BITS) == 0.0
    assert B.est_fpr(10**10, 1 << 17) > 0.99  # the old fixed size saturates

    monkeypatch.setattr(B, "MIN_BITS", 256)
    df = spark.createDataFrame([(h,) for h in _hashes_p0(0, 2000)], ["url_hash"])
    row = B.build_filters(df, 0).collect()[0]
    assert row["n_items"] == 2000
    assert row["m_bits"] >= 2000 * B.BITS_PER_ITEM  # sized from data, not floor
    assert B.est_fpr(row["n_items"], row["m_bits"]) < 0.02


def test_generation_spill_and_membership(spark, monkeypatch):
    """When a partition outgrows its newest generation, add_to_filters spills
    into a larger generation; membership stays exact (no false negatives)
    across generations."""
    from deepcrawl4ai_spark.frontier import bloom as B

    monkeypatch.setattr(B, "MIN_BITS", 1024)  # capacity 102 items/partition
    a = _hashes_p0(0, 80)
    b = _hashes_p0(80, 240)

    def df(hs):
        return spark.createDataFrame([(h,) for h in hs], ["url_hash"])

    fa = B.build_filters(df(a), 0)
    fb = B.add_to_filters(fa, df(b), 1)
    rows = sorted(fb.collect(), key=lambda r: r["m_bits"])
    assert len(rows) == 2, "second generation expected"
    assert rows[1]["m_bits"] >= 2 * rows[0]["m_bits"]
    # no false negatives across generations
    assert B.maybe_seen(df(a + b), fb).filter(~F.col("maybe_seen")).count() == 0
    # filter_stats reflects both generations
    stats = B.filter_stats(fb)
    assert stats["generations"] == 2 and stats["n_items"] == 240


def test_empty_filter_partition(spark):
    """Candidates landing in a partition with no filter row → definitely new."""
    inserted = _hashes("in", 10)
    filters = bloom.build_filters(
        spark.createDataFrame([(h,) for h in inserted], ["url_hash"]), 0
    )
    probe = spark.createDataFrame([(h,) for h in _hashes("probe", 200)], ["url_hash"])
    out = bloom.maybe_seen(probe, filters)
    assert out.count() == 200  # every candidate row survives the cogroup


# --- pinned filter rows and flags (the Arrow grouped passes) -------------------


def _df(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], ["url_hash"])


def _rows(filters):
    return sorted(
        (r.asDict() for r in filters.collect()),
        key=lambda r: (r["partition_id"], r["m_bits"]),
    )


def _ref_bloom_bits(hashes, m: int) -> bytes:
    """Pure-Python reference for one generation's bits: k double-hashed
    positions (sha1 hex [0:8] and [8:16] | 1) mod m, little-endian in-byte."""
    acc = bytearray(m // 8)
    for h in hashes:
        h1, h2 = int(h[:8], 16), int(h[8:16], 16) | 1
        for i in range(bloom.K_HASHES):
            pos = (h1 + i * h2) % m
            acc[pos // 8] |= 1 << (pos % 8)
    return bytes(acc)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_build_filters_rows_equal_local_build(spark, kind):
    """The distributed builder and the driver-side seed builder emit
    byte-identical rows, whatever order the shuffle delivers hashes in."""
    hs = _hashes("local", 3000)
    got = _rows(bloom.build_filters(_df(spark, hs).repartition(7), 3, kind=kind))
    want = sorted(
        bloom.build_filter_rows_local(list(reversed(hs)), 3, kind=kind),
        key=lambda r: r["partition_id"],
    )
    assert got == want
    assert {r["filter_kind"] for r in got} == {kind}


def test_add_to_filters_rows_pinned_across_spill(spark, monkeypatch):
    """add_to_filters' rows are pinned byte-for-byte: a batch past the newest
    generation's capacity spills into a ≥2× generation (older bits pass
    through untouched), and a batch under capacity ORs into the newest."""
    monkeypatch.setattr(bloom, "MIN_BITS", 1024)  # capacity 102 items
    a, b, c = _hashes_p0(0, 80), _hashes_p0(80, 240), _hashes_p0(240, 250)
    fa = spark.createDataFrame(bloom.build_filter_rows_local(a, 0), bloom.FILTER_SCHEMA)
    fb = bloom.add_to_filters(fa, _df(spark, b), 1)
    m2 = max(bloom.size_for(len(b)), 2 * 1024)

    def gen(bits, m, n, rnd):
        return {"partition_id": 0, "filter_kind": "bloom", "bits": bits,
                "m_bits": m, "n_items": n, "round": rnd}

    assert _rows(fb) == [
        gen(_ref_bloom_bits(a, 1024), 1024, 80, 1),
        gen(_ref_bloom_bits(b, m2), m2, 160, 1),
    ]
    assert _rows(bloom.add_to_filters(fb, _df(spark, c), 2)) == [
        gen(_ref_bloom_bits(a, 1024), 1024, 80, 2),
        gen(_ref_bloom_bits(b + c, m2), m2, 170, 2),
    ]


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_maybe_seen_flags_pinned(spark, kind):
    """Every candidate's maybe_seen flag equals a driver-side probe of the
    same filter rows (bloom: all k bits set; cuckoo: fingerprint in either
    bucket); inserted hashes are always flagged."""
    from deepcrawl4ai_spark.frontier import cuckoo as CK

    inserted, others = _hashes("pin", 600), _hashes("pout", 3000)
    local = bloom.build_filter_rows_local(inserted, 0, kind=kind)
    by_pid = {r["partition_id"]: r for r in local}

    def ref(h: str) -> bool:
        g = by_pid.get(int(h[:4], 16) % bloom.N_PARTITIONS)
        if g is None:
            return False
        if kind == "cuckoo":
            table = CK.table_from_bytes(g["bits"])
            return bool(CK.contains_batch(table, *CK.keys([h], table.shape[0]))[0])
        probe = _ref_bloom_bits([h], g["m_bits"])
        return all((x & y) == y for x, y in zip(g["bits"], probe))

    filters = spark.createDataFrame(local, bloom.FILTER_SCHEMA)
    got = {
        r["url_hash"]: r["maybe_seen"]
        for r in bloom.maybe_seen(_df(spark, inserted + others), filters).collect()
    }
    assert got == {h: ref(h) for h in inserted + others}
    assert all(got[h] for h in inserted)
