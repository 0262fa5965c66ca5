"""CheckpointStore interface conformance (VERDICT r2 #7): the contract any
backend must satisfy for the engine — today the parquet+manifest store
(SURVEY §7 plan B), tomorrow a real Iceberg catalog (plan A: MERGE INTO +
snapshot expiry; no iceberg-spark-runtime jar or Maven access in-sandbox, so
the swap is gated on THIS suite instead of aspirational).

Add a backend by registering a factory in STORE_BACKENDS — every test here
runs against each registered backend.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier.checkpoint import CheckpointStore

STORE_BACKENDS = {
    "parquet_manifest": CheckpointStore,
    # "iceberg": IcebergCheckpointStore,  # registered when a catalog exists
}


@pytest.fixture(params=sorted(STORE_BACKENDS))
def store(request, tmp_path_factory):
    root = str(tmp_path_factory.mktemp(f"conf_{request.param}"))
    return STORE_BACKENDS[request.param](root)


def _df(spark, rows, schema="url_hash string, v int"):
    return spark.createDataFrame(rows, schema)


def test_empty_store_contract(store, spark):
    assert store.last_round() is None
    assert store.current_snapshot() is None
    assert store.read(spark, "active") is None
    assert store.read_as_of(spark, "active", 0) is None
    assert store.round_metrics() == []


def test_overwrite_replaces_append_accumulates(store, spark):
    store.commit_round(
        0,
        overwrite={"active": _df(spark, [("a", 1), ("b", 2)])},
        append={"results": _df(spark, [("a", 1)])},
        metrics={"round": 0},
    )
    store.commit_round(
        1,
        overwrite={"active": _df(spark, [("c", 3)])},
        append={"results": _df(spark, [("b", 2), ("c", 3)])},
        metrics={"round": 1},
    )
    assert store.last_round() == 1
    # overwrite table shows ONLY the latest round's rows
    assert {r["url_hash"] for r in store.read(spark, "active").collect()} == {"c"}
    # append table is the union of all committed rounds
    assert store.read(spark, "results").count() == 3
    assert [m["round"] for m in store.round_metrics()] == [0, 1]


def test_time_travel_serves_each_committed_round(store, spark):
    for r in range(3):
        store.commit_round(
            r,
            overwrite={"active": _df(spark, [(f"r{r}", r)])},
            append={"results": _df(spark, [(f"r{r}", r)])},
            metrics={"round": r},
        )
    for r in range(3):
        as_of = store.read_as_of(spark, "active", r)
        assert [x["url_hash"] for x in as_of.collect()] == [f"r{r}"]
        assert store.read_as_of(spark, "results", r).count() == r + 1
    assert store.read_as_of(spark, "active", 99) is None  # never committed


def test_idempotent_recommit_after_crash_replay(store, spark):
    """Re-running a round's commit (at-least-once recovery) must leave the
    store EXACTLY as a single commit would — no duplicate append rows."""
    for _ in range(2):  # the re-run replays the same round
        store.commit_round(
            0,
            overwrite={"active": _df(spark, [("a", 1)])},
            append={"results": _df(spark, [("x", 1), ("y", 2)])},
            metrics={"round": 0},
        )
    assert store.last_round() == 0
    assert store.read(spark, "results").count() == 2
    assert store.read(spark, "active").count() == 1


def test_expire_snapshots_contract(store, spark):
    for r in range(5):
        store.commit_round(
            r,
            overwrite={"active": _df(spark, [(f"r{r}", r)])},
            append={"results": _df(spark, [(f"r{r}", r)])},
            metrics={"round": r},
        )
    removed = store.expire_snapshots(keep_last=2)
    assert removed == [0, 1, 2]
    # current view unaffected; retained rounds still time-travelable
    assert store.last_round() == 4
    assert store.read(spark, "active").count() == 1
    assert store.read(spark, "results").count() == 5  # append data retained
    assert store.read_as_of(spark, "active", 3) is not None
    assert store.read_as_of(spark, "active", 1) is None  # expired


def test_partitioned_table_bucket_pruning(store, spark):
    """Tables registered in PARTITIONED_TABLES are stored hive-partitioned;
    a bucket-filtered read must return exactly that bucket's rows (and scan
    only its files — the Iceberg bucket-partition-spec analog)."""
    rows = [(f"h{i}", i % 4) for i in range(40)]
    store.commit_round(
        0,
        overwrite={},
        append={"seen_hashes": _df(spark, rows, "url_hash string, bucket int")},
        metrics={"round": 0},
    )
    seen = store.read(spark, "seen_hashes")
    one = seen.filter(F.col("bucket") == 2)
    assert one.count() == 10
    assert {r["bucket"] for r in one.collect()} == {2}
    # partition pruning is visible in the scan (PartitionFilters on bucket)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_metrics_lineage_and_prometheus(store, spark):
    store.commit_round(
        0,
        overwrite={"active": _df(spark, [("a", 1)])},
        append={"results": _df(spark, [("a", 1)])},
        metrics={"round": 0, "urls_popped": 7, "urls_fetched": 6, "urls_failed": 1},
    )
    snap = store.current_snapshot()
    # per-partition lineage: every table the round touched has file/byte meta
    assert set(snap["tables_meta"]) >= {"active", "results"}
    assert all(m["files"] >= 1 and m["bytes"] > 0 for m in snap["tables_meta"].values())
    text = store.prometheus_metrics()
    assert "crawl_rounds_total 1" in text
    assert "crawl_urls_popped_total 7" in text


# --- the parquet+manifest backend's commit facts --------------------------------

SEEN = "url_hash string, bucket int"


def _two_rounds(store, spark):
    """Round 0 appends two seen_hashes rows; round 1 appends none (a
    partitioned write of 0 rows leaves a dir with no data files)."""
    store.commit_round(
        0,
        overwrite={"active": _df(spark, [("a", 1), ("b", 2), ("c", 3)])},
        append={"seen_hashes": _df(spark, [("a", 1), ("b", 2)], SEEN)},
        metrics={"round": 0},
    )
    store.commit_round(
        1,
        overwrite={"active": _df(spark, [("c", 3)])},
        append={"seen_hashes": _df(spark, [], SEEN)},
        metrics={"round": 1},
    )


def test_manifest_rows_and_schema_pinned_read_submits_no_jobs(tmp_path, spark):
    """The manifest records each table's exact row count (parquet footers)
    and schema; reading a committed table — an empty partitioned append
    included — submits no Spark job."""
    store = CheckpointStore(str(tmp_path))
    _two_rounds(store, spark)
    snap = store.current_snapshot()
    assert snap["tables_meta"]["active"]["rows"] == 1
    assert snap["tables_meta"]["seen_hashes"]["rows"] == 0
    assert store.snapshot_at(0)["tables_meta"]["seen_hashes"]["rows"] == 2
    assert store.table_rows("active") == 1
    assert set(snap["schemas"]) == {"active", "seen_hashes"}

    sc = spark.sparkContext
    sc.setJobGroup("pinned_read_probe", "pinned read probe")
    try:
        before = sc.statusTracker().getJobIdsForGroup("pinned_read_probe")
        active = store.read(spark, "active")
        seen = store.read(spark, "seen_hashes")
        after = sc.statusTracker().getJobIdsForGroup("pinned_read_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert before == after == []
    assert [r["url_hash"] for r in active.collect()] == ["c"]
    assert sorted(tuple(r) for r in seen.collect()) == [("a", 1), ("b", 2)]


def test_manifest_without_schemas_still_reads(tmp_path, spark):
    """Manifests written before schemas were recorded read by inference."""
    import json
    import os

    store = CheckpointStore(str(tmp_path))
    _two_rounds(store, spark)
    cur = os.path.join(str(tmp_path), "_current.json")
    with open(cur) as f:
        snap = json.load(f)
    del snap["schemas"]
    snap["tables"]["seen_hashes"] = snap["tables"]["seen_hashes"][:1]  # no empty dir
    with open(cur, "w") as f:
        json.dump(snap, f)
    assert [r["url_hash"] for r in store.read(spark, "active").collect()] == ["c"]
    seen = store.read(spark, "seen_hashes")
    assert sorted((r["url_hash"], r["bucket"]) for r in seen.collect()) == [("a", 1), ("b", 2)]
