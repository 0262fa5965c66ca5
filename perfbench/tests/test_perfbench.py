"""Tests of the benchmark's own parts. The registry's DuckDB oracles run
here, on a small corpus from the benchmark's generator, never in a timed
run. Run: ``python3 -m pytest perfbench/tests -q`` from the repo root."""

from __future__ import annotations

import http.client
import os
import sys
import urllib.parse

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def test_seed_urls_follow_the_seed():
    a, b = inputs.seed_urls(7, 200), inputs.seed_urls(8, 200)
    assert a == inputs.seed_urls(7, 200)
    assert len(set(a)) == 200 and a != b


def test_self_times_subtract_merged_children():
    tr = Tracer()
    tr.add("root", 0.0, 10.0, None)
    tr.add("child", 1.0, 4.0, 0)
    tr.add("child", 3.0, 5.0, 0)  # overlaps the first child
    tr.add("grandchild", 1.0, 2.0, 1)
    assert tr.self_times() == {"root": 6.0, "child": 4.0, "grandchild": 1.0}


def test_origin_serves_the_synthetic_web_and_counts():
    from deepcrawl4ai_spark.frontier import webgraph as WG
    from deepcrawl4ai_spark.frontier.htmlpage import render_html
    from perfbench.crawl import OriginProcess

    origin = OriginProcess(latency_ms=0.0)
    try:
        port = int(origin.base.rsplit(":", 1)[1])
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        urls = inputs.seed_urls(3, 60)
        failed = 0
        for u in urls:
            conn.request("GET", "/page?u=" + urllib.parse.quote(u, safe=""))
            resp = conn.getresponse()
            body = resp.read()
            page = WG.fetch_page(u)
            if page.fetch_status == "success":
                assert resp.status == 200 and body.decode() == render_html(page)
            else:
                failed += 1
                assert resp.status == 503
        conn.close()
        stats = origin.stats()
        assert stats["requests"] == len(urls) and stats["inflight_max"] == 1
    finally:
        origin.stop()
    assert origin.proc.returncode is not None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from deepcrawl4ai_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = ROOT
    s = get_spark("perfbench-tests", cores=2)
    yield s
    s.stop()


@pytest.mark.parametrize("query", ["corpus_pipeline_v3", "dedup_minhash_apply"])
def test_funnel_queries_match_duckdb_oracle(spark, tmp_path, query):
    import duckdb

    from deepcrawl4ai_spark.registry import ORACLES, QUERIES
    from tools.check_correctness import value_hash

    inputs.write_corpus(spark, 5, 1000, str(tmp_path))
    sdf = QUERIES[query](spark, str(tmp_path))
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    res = con.execute(ORACLES[query])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert s_rows, "empty result proves nothing"
    assert sorted(sdf.columns) == sorted(d_cols)
    assert value_hash(s_rows, sdf.columns) == value_hash(d_rows, d_cols)


def test_planted_pairs_are_near_duplicates(spark, tmp_path):
    inputs.write_corpus(spark, 9, 200, str(tmp_path))
    text = dict(
        spark.read.parquet(f"{tmp_path}/documents.parquet").select("doc_id", "text").collect()
    )
    for a, c in inputs.planted_pairs(200):
        wa, wc = text[a].split(), text[c].split()
        diff = [j for j in range(inputs.N_WORDS) if wa[j] != wc[j]]
        assert diff == list(inputs.MUT_POS)
