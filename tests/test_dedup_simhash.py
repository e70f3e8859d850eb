"""SimHash banded near-dup pairs: exactness vs brute force.

Pigeonhole guarantee under test: for max_hamming <= bands-1 the banded
operator returns EXACTLY the brute-force pair set (no recall loss from
bucketing), with hamming computed on the same staged signature.
"""
import itertools

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.operators.dedup import simhash_neardup_pairs
from spatial4n_spark.operators.text import with_simhash


def _corpus(spark, n=300):
    # near-dup families: base docs plus small word edits
    rows = []
    base_words = ["alpha beta gamma delta epsilon zeta eta theta iota",
                  "one two three four five six seven eight nine ten",
                  "lorem ipsum dolor sit amet consectetur adipiscing",
                  "the quick brown fox jumps over the lazy dog again"]
    i = 0
    for b, words in enumerate(base_words):
        for v in range(n // len(base_words)):
            w = words.split()
            if v % 3 == 1:
                w[v % len(w)] = f"edit{v}"
            if v % 3 == 2:
                w.append(f"extra{v % 7}")
            rows.append((i, " ".join(w)))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("bands,max_hamming", [(4, 3), (6, 5)])
def test_simhash_pairs_exact_vs_brute_force(spark, bands, max_hamming):
    bits = 48
    docs = _corpus(spark)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in
           simhash_neardup_pairs(docs, bits=bits, bands=bands,
                                 max_hamming=max_hamming).collect()}
    sigs = {r.doc_id: r.simhash for r in
            with_simhash(docs, bits=bits).select("doc_id",
                                                 "simhash").collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= max_hamming:
            want.add((a, b, h))
    assert got == want
    assert len(want) > 0  # corpus actually produces near-dups


def test_simhash_pairs_guard_rails(spark):
    docs = _corpus(spark, 20)
    with pytest.raises(ValueError, match="exceeds the banding guarantee"):
        simhash_neardup_pairs(docs, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_neardup_pairs(docs, bits=50, bands=4)


def test_simhash_pairs_all_jvm(spark):
    """The whole propose/dispose pipeline must stay out of Python."""
    docs = _corpus(spark, 20)
    out = simhash_neardup_pairs(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow"):
        assert bad not in plan


def test_dedup_clusters_simhash_method(spark):
    """The simhash candidate generator plugs into the CC tail: clusters
    group the edit-families, canonical = min doc_id, and the method
    knob rejects unknown values."""
    import pytest as _pytest

    from spatial4n_spark.operators.dedup import dedup_clusters

    docs = _corpus(spark, 40)
    out = dedup_clusters(docs, method="simhash")
    rows = {r.doc_id: r.cluster_id for r in out.collect()}
    assert set(rows) == set(range(40))          # every doc labeled
    assert all(rows[d] <= d for d in rows)      # min-id canonical
    assert len(set(rows.values())) < 40         # families actually merge
    with _pytest.raises(ValueError, match="unknown dedup method"):
        dedup_clusters(docs, method="bogus")
