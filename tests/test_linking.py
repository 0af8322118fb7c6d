"""Linking & canonicalization properties (SURVEY.md §5.2.5)."""

from __future__ import annotations

import threading
import warnings

import pytest
from pyspark.sql import functions as F

from glre_spark import minhash as mh
from glre_spark.linking import (
    NAME_ROWS_PER_BAND,
    alias_dict_df,
    connected_components,
    dedup_triples,
    link_aliases,
)


def _mentions(spark):
    rows = [
        ("u1", "United States"), ("u1", "USA"), ("u2", "u.s."),
        ("u2", "Acme Corp"), ("u3", "ACME CORPORATION"), ("u3", "Globex"),
        ("u4", "Unknown Widget Co"), ("u4", "United States"),
        ("u5", "United States"), ("u5", "new york city"),
    ]
    return spark.createDataFrame(rows, "url string, name string")


def test_alias_variants_link_to_same_entity(spark):
    m = _mentions(spark)
    linked = link_aliases(m, alias_dict_df(spark))
    keys = {
        r.name: r.entity_key
        for r in linked.select("name", "entity_key").collect()
    }
    assert keys["United States"] == keys["USA"] == keys["u.s."]
    assert keys["Acme Corp"] == keys["ACME CORPORATION"]
    # unlinked name gets a deterministic surrogate
    assert keys["Unknown Widget Co"].startswith("S")


def test_linking_is_idempotent(spark):
    m = _mentions(spark)
    ad = alias_dict_df(spark)
    once = link_aliases(m, ad).select("url", "name", "entity_key")
    twice = link_aliases(once.drop("entity_key"), ad).select("url", "name", "entity_key")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " today"),                      # near-dup of 1
        (3, "completely different content about spark dataframes"),
        (4, base.replace("quick", "quik")),        # near-dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    hs = df.select("id", mh.shingle_hashes(mh.shingles(F.col("text"))).alias("hs"))
    sig = hs.select("id", *mh.signature(F.col("hs")))
    bands = mh.lsh_bands(sig, NAME_ROWS_PER_BAND, id_col="id")
    pairs = {(r.id_a, r.id_b) for r in mh.capped_pairs(bands, id_col="id").collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs and (3, 4) not in pairs


def test_hot_lsh_bucket_is_capped_but_mirrors_still_flagged(spark):
    """More than MAX_LSH_BLOCK byte-identical docs share every band
    bucket: the capped self-join must emit no pair from that bucket (the
    quadratic guard), and near_dup_keepers must still flag every mirror
    through its linear exact-content star."""
    from glre_spark.operators.kgops import near_dup_keepers

    n_hot = mh.MAX_LSH_BLOCK + 6
    hot = "the same boilerplate page mirrored across many hosts, word for word"
    rows = [(i, hot) for i in range(n_hot)] + [
        (1000, "an unrelated page about graph neural networks and relations"),
        (1001, "a second unrelated page on spark dataframes and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hs = docs.select("doc_id", mh.shingle_hashes(mh.shingles(F.col("text"))).alias("hs"))
    sig = hs.select("doc_id", *mh.signature(F.col("hs")))
    pairs = mh.capped_pairs(mh.lsh_bands(sig, mh.DOC_ROWS_PER_BAND)).collect()
    assert not [p for p in pairs if p.id_a < n_hot and p.id_b < n_hot]

    keep = {r.doc_id: (r.keeper, r.is_dup) for r in near_dup_keepers(docs).collect()}
    assert all(keep[i] == (0, True) for i in range(1, n_hot))
    assert keep[0] == (0, False)
    assert keep[1000] == (1000, False) and keep[1001] == (1001, False)


def test_connected_components_min_label(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (3, 4)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def _chain(spark, n_nodes=201):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n_nodes - 1)], "id_a long, id_b long"
    )


def test_connected_components_warns_without_fixpoint(spark):
    """The per-round probe must still see the labels change: two rounds
    cannot reach and confirm the fixpoint of a 201-node chain."""
    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        connected_components(_chain(spark), max_iter=2)


def test_connected_components_long_chain_converges_silently(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = connected_components(_chain(spark)).collect()
    assert len(got) == 201
    assert {r.component for r in got} == {0}


def test_connected_components_empty_edges_returns_empty(spark):
    """No edges → no labels. The probe's Observation must still complete
    on an empty checkpoint pass instead of blocking forever."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = []
    t = threading.Thread(
        target=lambda: out.append(connected_components(empty).collect()), daemon=True
    )
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "connected_components hung on an empty edge frame"
    assert out == [[]]


def test_dedup_triples_keeps_max_score(spark):
    t = spark.createDataFrame(
        [
            ("a", "P1", "b", 0.5, "u1"),
            ("a", "P1", "b", 0.9, "u2"),
            ("a", "P2", "b", 0.7, "u3"),
        ],
        "subj string, pred string, obj string, score double, url string",
    )
    got = {(r.subj, r.pred, r.obj): (r.score, r.n_sources) for r in dedup_triples(t).collect()}
    assert got[("a", "P1", "b")] == (0.9, 2)
    assert got[("a", "P2", "b")] == (0.7, 1)


def test_grouped_map_band_blocking_no_quadratic_on_uniform_length(spark, tmp_path):
    """Regression for the n_chars blocking key: 300 equal-length but
    unrelated docs must NOT form one 300-doc block (44,850 pairs). LSH
    band_hash blocks on content signature, so unrelated docs co-bucket
    only by hash accident."""
    import random

    from glre_spark.operators.udfops import udf_grouped_map

    rnd = random.Random(7)
    rows = [
        (i, "".join(rnd.choice("abcdefghij ") for _ in range(200)))
        for i in range(300)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    n_pairs = udf_grouped_map(spark, str(tmp_path)).count()
    assert n_pairs < 500, f"uniform-length corpus exploded into {n_pairs} pairs"


def test_split_holdout_stable_under_corpus_growth(spark):
    """A document's split/shard assignment depends only on its own key:
    computing the assignment over a subset of the corpus must agree with
    the full-corpus assignment on every shared doc — the property that
    lets a 100 TB pipeline add crawl batches without reshuffling holdout
    membership (and that engine-RNG sampling does not have)."""
    from glre_spark.operators.sets_sorts import split_holdout
    from tests.conftest import SF_DIR

    full = {
        r.doc_id: (r.split, r.shard)
        for r in split_holdout(spark, SF_DIR).collect()
    }

    # re-apply the op's bucket rule to a FILTERED corpus
    def bucket(salt, mod):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(mod))

    subset = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id % 3 = 0")
    sub = {
        r.doc_id: (r.split, r.shard)
        for r in subset.select(
            "doc_id",
            F.when(bucket(":split", 100) < 5, "val").otherwise("train").alias("split"),
            bucket(":shard", 16).cast("int").alias("shard"),
        ).collect()
    }
    assert sub and all(full[d] == v for d, v in sub.items())
