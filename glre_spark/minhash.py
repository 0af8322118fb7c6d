"""The one MinHash + LSH blocking stack (minhash_sig / lsh_band /
join_self_block, SURVEY.md §2.12).

char-3 shingles → one md5 per shingle (28-bit base hash) → K integer
permutations → banded (id, band_id, band_hash) rows → a block-capped
self-join → exact Jaccard verify. Document near-dup dedup
(operators.kgops) and entity-name clustering (linking.cluster_names) both
block through here; the only thing they choose is ``rows_per_band``.
Embedding near-dup dedup (kgops.dedup_embedding_cosine) reuses the capped
self-join over its sign-LSH buckets with a larger ``max_block``.

Every step is exact md5 / int64 arithmetic both engines agree on, so the
DuckDB CTEs at the bottom reproduce the document signatures, bands and
candidate pairs bit for bit (the oracle twins of the kgops ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 3
K = 8  # signature length

# MinHash family: ONE md5 per shingle (28-bit base hash from the first 7
# hex chars) + K integer permutations h_i = (A_i·h + B_i) mod P. 8× fewer
# md5 calls than hashing per-seed (the signature stage is md5-bound), and
# every step is exact int64 arithmetic both engines agree on (A·h + B <
# 2^59, no overflow under ANSI mode). P = 2^31-1 (Mersenne prime).
P = 2147483647
A = [1103515245, 1225577, 747796405, 2027382, 1664525, 22695477, 65793, 100005713]
B = [12345, 987654321, 69069, 8121, 1013904223, 1, 377003613, 55555]

# Documents band with r=4 (2 bands): high-precision blocking — r=2 floods
# the candidate set on vocabulary-sharing corpora (measured 18.8 s of
# self-join at 500 docs; quadratic at web scale). Short entity names use
# r=2 (4 bands) for recall at Jaccard 0.85.
DOC_ROWS_PER_BAND = 4

MAX_LSH_BLOCK = 64  # block-size cap: one hot band bucket would otherwise go
                    # quadratic in the self-join (cartesian bomb at web
                    # scale); oversized buckets are dropped, not counted


def shingles(col, k: int = SHINGLE_K):
    """Distinct character k-shingles (str_shingle §2.8)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - (k - 1), F.lit(1))),
            lambda i: col.substr(i, F.lit(k)),
        )
    )


def shingle_hashes(sh):
    """Shingle array → 28-bit base hashes (one md5 per shingle)."""
    return F.transform(sh, lambda x: F.conv(F.md5(x).substr(1, 7), 16, 10).cast("bigint"))


def _perm_hash(i: int):
    # NB: must return a ONE-arg lambda — F.transform interprets a two-arg
    # lambda as (element, index), which would silently shadow the seed.
    a, b = F.lit(A[i]).cast("bigint"), F.lit(B[i]).cast("bigint")
    return lambda h: F.pmod(a * h + b, F.lit(P).cast("bigint"))


def signature(hs) -> list:
    """Base-hash array column → the K min-hash columns mh0..mh{K-1}.

    Select the base hashes under an alias first and pass the aliased
    column: an inline shingle_hashes expression would be written out K
    times and run the md5 pass K× (Catalyst does not collapse projections
    that duplicate expensive expressions)."""
    return [F.array_min(F.transform(hs, _perm_hash(i))).alias(f"mh{i}") for i in range(K)]


def lsh_bands(sig: DataFrame, rows_per_band: int, id_col: str = "doc_id",
              carry: str | None = None) -> DataFrame:
    """Signature rows → one (id[, carry], band_id, band_hash) row per band;
    band_hash = md5 of the band's min-hashes joined by '|'."""
    r = rows_per_band
    hashes = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(K // r)
        ]
    )
    keep = [id_col, carry] if carry else [id_col]
    return sig.select(
        *keep, F.posexplode(hashes).alias("band_id", "band_hash")
    ).withColumn("band_id", F.col("band_id").cast("bigint"))


def capped_bands(bands: DataFrame, max_block: int = MAX_LSH_BLOCK) -> DataFrame:
    """Band rows whose (band_id, band_hash) bucket holds at most
    ``max_block`` rows. Larger buckets are dropped whole; nothing logs or
    counts them."""
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("bn"))
    return bands.join(
        F.broadcast(sizes.filter(F.col("bn") <= max_block).select("band_id", "band_hash")),
        ["band_id", "band_hash"],
    )


def capped_pairs(bands: DataFrame, id_col: str = "doc_id", carry: str | None = None,
                 max_block: int = MAX_LSH_BLOCK) -> DataFrame:
    """Candidate pairs: the capped band table self-joined within buckets,
    one (id_a, id_b) row with id_a < id_b per pair per shared bucket —
    callers take distinct(). ``carry`` names a per-id column brought along
    as ``<carry>_a`` / ``<carry>_b``, so a verify can filter the pairs
    before the distinct without joining back on the ids."""
    capped = capped_bands(bands, max_block)

    def side(s):
        extra = [F.col(carry).alias(f"{carry}_{s}")] if carry else []
        return capped.select(F.col(id_col).alias(f"id_{s}"), *extra, "band_id", "band_hash")

    return (
        side("a").join(side("b"), ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("band_id", "band_hash")
    )


def jaccard(a, b):
    """Exact Jaccard of two distinct-element array columns."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


# ---------------------------------------------------------------------------
# DuckDB twins over the ``documents`` table (rows_per_band =
# DOC_ROWS_PER_BAND). Each CTE must match the Spark expression above it
# bit for bit: shingles + shingle_hashes → sh, signature → sig,
# lsh_bands → bands, capped_pairs(...).distinct() → cand.
# ---------------------------------------------------------------------------

SHINGLE_CTE = """sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS h
  FROM (SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS s
        FROM (SELECT doc_id, text,
                     UNNEST(range(1, greatest(length(text) - 1, 2))) AS i
              FROM documents))
)"""

SIG_CTE = (
    SHINGLE_CTE
    + """,
sig AS MATERIALIZED (
  SELECT doc_id, """
    + ", ".join(f"min(({A[i]} * h + {B[i]}) % {P}) AS mh{i}" for i in range(K))
    + """
  FROM sh GROUP BY doc_id
)"""
)

BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, CAST({b} AS BIGINT) AS band_id, md5({parts}) AS band_hash FROM sig".format(
        b=b,
        parts=" || '|' || ".join(
            f"CAST(mh{b * DOC_ROWS_PER_BAND + j} AS VARCHAR)"
            for j in range(DOC_ROWS_PER_BAND)
        ),
    )
    for b in range(K // DOC_ROWS_PER_BAND)
)

CAND_CTES = (
    SIG_CTE
    + """,
bands AS MATERIALIZED ("""
    + BAND_SELECTS
    + f"""),
sized AS MATERIALIZED (
  SELECT band_id, band_hash FROM bands
  GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_LSH_BLOCK}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN sized s ON a.band_id = s.band_id AND a.band_hash = s.band_hash
  JOIN bands b ON a.band_hash = b.band_hash AND a.band_id = b.band_id
  WHERE a.doc_id < b.doc_id
)"""
)
