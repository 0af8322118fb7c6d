"""Entity linking (SURVEY.md §2.12).

Relational stages downstream of inference: name normalization, broadcast
alias-dictionary join, near-duplicate name clustering (blocked
by the shared glre_spark.minhash stack), connected components, canonical
naming, triple dedup. All built-in DataFrame ops — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from glre_spark import minhash as mh
from glre_spark.session import local_df

# ---------------------------------------------------------------------------
# Normalization (str_normalize §2.8)
# ---------------------------------------------------------------------------


def norm_name(col):
    """lower → strip punctuation to spaces → collapse whitespace → trim.
    Frozen alias-normalization contract shared with datagen.alias_rows."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}]+", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# The alias dictionary's columns, as datagen.alias_rows() keys them.
ALIAS_SCHEMA = "alias_norm string, entity_key string, canonical_name string, type string"


def alias_dict_df(spark) -> DataFrame:
    """The alias dictionary as a local relation: its broadcast starts no
    Python worker."""
    from glre_spark.datagen import alias_rows

    return local_df(spark, alias_rows(), ALIAS_SCHEMA)


# ---------------------------------------------------------------------------
# Alias join (link_alias_broadcast)
# ---------------------------------------------------------------------------


def link_aliases(mentions: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Broadcast hash join mention ``name``s onto the alias dictionary.
    Unlinked names fall back to a deterministic surrogate key so every
    mention stays in the graph. The dictionary is broadcast, so no
    mention rows are shuffled and a hot name cannot skew a task."""
    m = mentions.withColumn("alias_norm", norm_name(F.col("name")))
    joined = m.join(F.broadcast(alias_df), "alias_norm", "left")
    return joined.withColumn(
        "entity_key",
        F.coalesce(F.col("entity_key"), F.concat(F.lit("S"), F.md5("alias_norm"))),
    ).withColumn("canonical_name", F.coalesce(F.col("canonical_name"), F.col("name")))


# ---------------------------------------------------------------------------
# Connected components (cc_label_prop §2.12) — alternating min-label
# propagation with lineage truncation each iteration.
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges(id_a, id_b) → (id, component) with component = min id reachable.

    Min-label propagation PLUS a pointer-jumping step per round (component
    ← label(component)), so convergence is O(log diameter) — chains across
    overlapping LSH blocks converge in a handful of rounds even when far
    longer than max_iter. Driver-side fixpoint loop; localCheckpoint
    truncates lineage per iteration (SURVEY.md §4.3).

    Convergence probe: min-propagation is monotone per node, so a
    fixpoint exists; we stop when the label assignment stops changing,
    detected as an unchanged sum of xxhash64(id, component) — works for
    ANY id type (the keeper path uses raw url strings as ids since r6;
    the old sum-of-labels probe cast components to decimal and threw
    under ANSI on strings). A pre-fixpoint false stop needs the
    per-round hash sums to collide — 2^-64-ish per round, negligible.
    Summed as decimal(38,0): a bigint sum of 64-bit hashes could
    overflow under ANSI; decimal38 cannot at any realistic node count.
    The sum rides an Observation on the round's checkpoint pass, so the
    probe costs no job of its own."""
    import warnings

    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = sym.localCheckpoint(eager=True)  # compute candidate edges once
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id"))  # round 1 rebuilds it
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        # candidate label for dst = min over neighbors' labels (+ own)
        prop = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("component"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component ← label(component). label(x) ≤ x always,
        # and every component value is itself a node id, so the lookup hits.
        lut = prop.select(
            F.col("id").alias("_cid"), F.col("component").alias("_cnew")
        )
        probe = Observation()
        labels = (
            prop.join(lut, prop.component == lut._cid)
            .select("id", F.col("_cnew").alias("component"))
            .observe(probe, F.sum(
                F.xxhash64("id", "component").cast("decimal(38,0)")).alias("h"))
            .localCheckpoint(eager=True)  # truncate lineage, one execution
        )
        s = probe.get["h"]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter}; "
            "components may be split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


# ---------------------------------------------------------------------------
# Cross-document entity clustering (north_star: "MinHash-LSH blocking …
# merge cross-document entity clusters"): near-duplicate surface names →
# LSH candidate pairs → Jaccard verify → connected components → one
# canonical name per cluster.
# ---------------------------------------------------------------------------

# Names band with r=2 (4 bands): short strings need it for recall at
# Jaccard 0.85 (P(candidate) = 1 - (1 - J^2)^4 ≈ 0.994 there).
NAME_ROWS_PER_BAND = 2


def cluster_names(
    names: DataFrame, weight_col: str, jaccard_threshold: float = 0.85
) -> DataFrame:
    """(name, weight) → (name, cluster_name) mapping for near-duplicate
    names. Pure DataFrame ops over the shared glre_spark.minhash stack:
    shingle → MinHash → LSH bands → capped block self-join → Jaccard
    verify → connected components (by hashed name id) → canonical pick
    (max weight, tie → lexicographic).

    Node ids are xxhash64(name): fully parallel (a dense_rank over a
    global no-partition window would funnel every distinct name through
    one task) and collision-safe at 64 bits for name-clustering scale."""
    w = names.groupBy("name").agg(F.sum(weight_col).alias("_w"))
    ided = w.withColumn(
        "_id", F.xxhash64(F.col("name"))
    ).withColumn("_sh", mh.shingles(norm_name(F.col("name"))))
    hs = ided.select("_id", "_sh", mh.shingle_hashes(F.col("_sh")).alias("_hs"))
    sig = hs.select("_id", "_sh", *mh.signature(F.col("_hs")))
    bands = mh.lsh_bands(sig, NAME_ROWS_PER_BAND, id_col="_id", carry="_sh")
    pairs = (
        mh.capped_pairs(bands, id_col="_id", carry="_sh")
        .filter(mh.jaccard("_sh_a", "_sh_b") >= jaccard_threshold)
        .select("id_a", "id_b")
        .distinct()
    )
    comps = connected_components(pairs)  # only ids that appear in edges
    labeled = ided.join(comps, ided._id == comps.id, "left").select(
        F.col("name"),
        F.col("_w"),
        F.coalesce(F.col("component"), F.col("_id")).alias("_comp"),
    )
    wrep = Window.partitionBy("_comp").orderBy(F.desc("_w"), F.asc("name"))
    reps = (
        labeled.withColumn("_rk", F.row_number().over(wrep))
        .filter("_rk = 1")
        .select("_comp", F.col("name").alias("cluster_name"))
    )
    return labeled.join(reps, "_comp").select("name", "cluster_name")


def apply_name_clusters(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the (name → cluster_name) mapping (broadcast)
    and re-dedup."""
    m_subj = mapping.select(
        F.col("name").alias("subj"), F.col("cluster_name").alias("_subj_c")
    )
    m_obj = mapping.select(
        F.col("name").alias("obj"), F.col("cluster_name").alias("_obj_c")
    )
    out = (
        triples.join(F.broadcast(m_subj), "subj", "left")
        .join(F.broadcast(m_obj), "obj", "left")
        .select(
            F.coalesce("_subj_c", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("_obj_c", "obj").alias("obj"),
            F.col("score"),
            F.col("url"),
            F.col("n_sources"),
        )
    )
    return dedup_triples(out)


# ---------------------------------------------------------------------------
# Triple dedup (§2.12)
# ---------------------------------------------------------------------------


def dedup_triples(triples: DataFrame, extra_keys: list[str] | None = None) -> DataFrame:
    """Exact (subj, pred, obj) dedup keeping max score + a witness url.
    n_sources = number of contributing prediction rows (pre-aggregated
    upstream counts — n_pred_rows or already-deduped n_sources — are
    summed when present, so re-deduping a partially-deduped table is
    exact). ``extra_keys`` scopes the dedup (e.g. lineage bucket_group)."""
    if "n_pred_rows" in triples.columns:
        n_sources = F.sum("n_pred_rows")
    elif "n_sources" in triples.columns:
        n_sources = F.sum("n_sources")
    else:
        n_sources = F.count("*")
    return triples.groupBy("subj", "pred", "obj", *(extra_keys or [])).agg(
        F.max("score").alias("score"),
        F.min("url").alias("url"),
        n_sources.cast("bigint").alias("n_sources"),
    )
