"""Seeded workload inputs. The program under test receives only what these
functions return: seed URLs for a crawl, a ``documents.parquet`` for the
funnel.

- Seed URLs: ``sha1("<seed>:<i>")`` picks a host of the ``webgraph``
  universe with probability proportional to its page count (Zipf, as the
  universe's own links do) and a page on it. ``webgraph.gen_seeds`` is not
  used: its list does not depend on a seed.
- Corpus: the ``tools/bench_dedup_scale.py`` shape with the seed mixed into
  every Spark ``xxhash64`` call. Each doc is 30 words from a 2,000-word
  vocabulary; docs with ``doc_id % 17 == 1`` are planted near-duplicates of
  ``doc_id - 1`` (words 5 and 17 replaced, shingle Jaccard ~0.65); ``lang``
  is one of three languages.
"""

from __future__ import annotations

import bisect
import hashlib

VOCAB = 2000
N_WORDS = 30
MUT_POS = (5, 17)
PLANT_MOD = 17
LANGS = ("en", "de", "fr")


def seed_urls(seed: int, n: int) -> list[str]:
    """*n* distinct page URLs of the current ``webgraph`` universe."""
    from deepcrawl4ai_spark.frontier import webgraph as WG

    pages = WG.host_pages()
    cum, acc = [], 0
    for p in pages:
        acc += p
        cum.append(acc)
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(out) < n:
        b = hashlib.sha1(f"{seed}:{i}".encode()).digest()
        i += 1
        host = bisect.bisect_right(cum, int.from_bytes(b[:8], "big") % acc)
        url = WG.page_url(host, int.from_bytes(b[8:16], "big") % pages[host])
        if url not in seen:
            seen.add(url)
            out.append(url)
    return out


def planted_pairs(n_docs: int) -> list[tuple[int, int]]:
    """(original, copy) doc_id pairs the corpus generator plants."""
    return [(i - 1, i) for i in range(1, n_docs) if i % PLANT_MOD == 1]


def write_corpus(spark, seed: int, n_docs: int, path: str) -> None:
    """Write the seeded corpus as ``<path>/documents.parquet``
    (doc_id bigint, text string, lang string)."""
    from pyspark.sql import functions as F

    plant = f"(id % {PLANT_MOD} = 1 AND id > 0)"
    base = f"id - (CASE WHEN {plant} THEN 1 ELSE 0 END)"
    word = (
        f"CASE WHEN {plant} AND j IN {MUT_POS} "
        f"THEN substr(md5(concat('mut', {seed}, '_', id, '_', j)), 1, 6) "
        f"ELSE substr(md5(cast(pmod(xxhash64({seed}, {base}, j), {VOCAB}) "
        f"AS string)), 1, 6) END"
    )
    langs = ", ".join(f"'{x}'" for x in LANGS)
    lang = (
        f"element_at(array({langs}), "
        f"cast(pmod(xxhash64({seed}, id, 9973), {len(LANGS)}) AS int) + 1)"
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(0, {N_WORDS - 1}), j -> {word}), ' ')"
        ).alias("text"),
        F.expr(lang).alias("lang"),
    )
    docs.coalesce(4).write.mode("overwrite").parquet(f"{path}/documents.parquet")
