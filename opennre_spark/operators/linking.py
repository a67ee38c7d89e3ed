"""Entity linking & canonicalization (SURVEY.md §2.3 J4, north_star):
mention surface forms -> candidate duplicate edges via MinHash-LSH
blocking -> connected components -> canonical entity ids.

The reference has NO entity linking — instance ids come pre-assigned
in its datasets (data_loader.py:162 reads item['h']['id']); this is the
KG-construction capability the north rule adds on top.

Scale design:
  - blocking: character-shingle MinHash signatures per distinct surface
    form, banded (LSH): equal band-hash -> candidate pair. Signatures
    are computed in ONE pass over the *distinct names* (tiny vs corpus),
    the band explode is linear, and the candidate join is an equi-join
    on (band, band_hash) — no O(n^2) pair enumeration.
  - verification: candidate pairs filtered by exact Jaccard over
    shingle sets (cheap — only on blocked candidates).
  - clustering: connected components via alternating large-star /
    small-star DataFrame joins (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SOCC'14), with localCheckpoint() each
    round to truncate lineage. No GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Affine MinHash family over a 31-bit domain: keeping the base hash and
# the multipliers under 2^31 bounds a*h + b < 2^62 + 2^31, safely inside
# int64 (Spark 4 runs ANSI mode — long overflow is an error, not a wrap).
_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MAX = 2**31


def _char_shingles(name_col: str, k: int = 3):
    """Distinct k-character shingles of the ^-$-padded lowercased name."""
    padded = F.concat(F.lit("^"), F.lower(F.col(name_col)), F.lit("$"))
    n = F.length(padded)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: padded.substr(i, F.lit(k)))
    )


def shingle_minhash(
    names: DataFrame,
    name_col: str = "name",
    k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 16,
    seed: int = 13,
) -> DataFrame:
    """names -> (name, band, band_hash). Pure Spark SQL expressions
    (JVM-side, codegen) — no Python UDF.

    MinHash h_i(S) = min_{s in S} (a_i * xxhash64(s) + b_i) mod P over
    the k-shingle set S of the lowercased name. Slim by design — the
    shingle arrays are dropped before the band explode so they never
    ride the candidate-join exchange (VERDICT r2 #1 fix); verification
    re-derives them via _char_shingles and joins back by name.
    """
    import random

    from .hof import hof_let

    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]
    rows_per_band = num_hashes // num_bands

    # per-shingle base hash ONCE (hof_let — see operators/hof.py: HOFs
    # are interpreted, so the former `__hv` withColumn was re-evaluated
    # per signature column after projection collapse), then each of the
    # num_hashes affine maps over the bound value
    hv_expr = F.transform(
        _char_shingles(name_col, k),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MAX)),
    )

    def bands_of(hv):
        def sig_of(a: int, b: int):
            return F.array_min(
                F.transform(hv, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P)))
            )

        return hof_let(
            F.array(*[sig_of(a, b) for a, b in coeffs]),
            lambda sig: F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(sig, bi * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for bi in range(num_bands)
                ]
            ),
        )

    df = names.select(
        F.col(name_col), hof_let(hv_expr, bands_of).alias("__bands")
    )
    return df.select(
        name_col, F.explode("__bands").alias("b")
    ).select(name_col, "b.band", "b.band_hash")


def candidate_edges(
    names: DataFrame,
    name_col: str = "name",
    jaccard_threshold: float = 0.27,
    k: int = 3,
    materialize: bool = True,
    **mh_kwargs,
) -> DataFrame:
    """Distinct surface forms -> verified similarity edges (name_a,
    name_b, jaccard). LSH equi-join on (band, band_hash) over SLIM
    (name, band, hash) rows, dedup to distinct candidate name pairs,
    then exact shingle-Jaccard verification by joining each side back
    to one (name -> shingles) projection — the payload crosses one
    exchange per side instead of riding the band join 2 x num_bands
    times (VERDICT r2 #1 fix).
    """
    distinct_names = names.select(name_col).distinct()
    sigs = shingle_minhash(distinct_names, name_col, k=k, **mh_kwargs)
    sh_tbl = distinct_names.select(
        F.col(name_col), _char_shingles(name_col, k).alias("__sh")
    )
    if materialize:
        # a self-join's sides + two join-backs are independent subtrees:
        # checkpoint once so the names lineage runs once, not four times
        sigs = sigs.localCheckpoint(eager=True)
        sh_tbl = sh_tbl.localCheckpoint(eager=True)
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{name_col}") < F.col(f"b.{name_col}")),
        )
        .select(
            F.col(f"a.{name_col}").alias("name_a"),
            F.col(f"b.{name_col}").alias("name_b"),
        )
        .dropDuplicates(["name_a", "name_b"])
    )
    cand = cand.join(
        sh_tbl.select(F.col(name_col).alias("name_a"), F.col("__sh").alias("sh_a")),
        "name_a",
    ).join(
        sh_tbl.select(F.col(name_col).alias("name_b"), F.col("__sh").alias("sh_b")),
        "name_b",
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ).alias("jaccard")
    return cand.select("name_a", "name_b", jac).filter(
        F.col("jaccard") >= F.lit(jaccard_threshold)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Alternating large-star/small-star connected components over an
    undirected edge list of LONG node ids. Returns (node, component)
    where component = min node id of the cluster.

    Each round is two self-join+agg passes; lineage is truncated with
    localCheckpoint() so the plan doesn't grow exponentially
    (SURVEY.md §4 'needs custom work' #1). Raises RuntimeError when the
    edge set has not reached its fixed point after `max_iter` rounds —
    the unconverged edges would map nodes to wrong components.
    """
    def checkpoint_with_sig(df: DataFrame):
        """localCheckpoint df and, in the same job, its order-insensitive
        set signature (count, sum of per-edge 64-bit hashes, summed in
        decimal so ANSI mode can't overflow) via an Observation — no
        separate action; the convergence screen stays O(|E|) map-side."""
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint()
        return df, (obs.get["n"], obs.get["h"])

    e, sig = checkpoint_with_sig(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iter):
        # symmetrize: star operations need the full undirected adjacency.
        # Checkpointed: each round's plan references nbrs four times
        # (two self-joins + two aggregates) — truncating here keeps the
        # optimizer's working set flat (and dodges a Spark 4 analyzer
        # attribute-rebind failure on deeply self-referential plans).
        nbrs = (
            e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # large-star: for each node u, connect every neighbor v > u to
        # m = min(neighbors(u) ∪ {u})
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("mn", F.least("mn", F.col("u")))
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        # small-star: for each node u, connect all neighbors <= u (and u)
        # to the overall min
        small_n = nbrs.filter(F.col("v") < F.col("u"))
        smins = small_n.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            small_n.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("mn").alias("v")))
        )
        new_e, new_sig = checkpoint_with_sig(
            large.unionByName(small).filter(F.col("u") != F.col("v")).distinct()
        )
        # converged when the edge set reached a fixed point. The
        # signature (observed by the checkpoint job, previous round's
        # carried forward) SCREENS for candidate convergence; an exact
        # exceptAll equality check then CONFIRMS it — the expensive
        # two-action comparison runs only at the (single) candidate
        # round, and a 64-bit hash-sum collision can never silently
        # truncate the iteration.
        if new_sig == sig and new_e.exceptAll(e).isEmpty() and e.exceptAll(
            new_e
        ).isEmpty():
            e = new_e
            break
        sig = new_sig
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds"
        )

    comp = e.groupBy("u").agg(F.min("v").alias("mn"))
    comp = comp.select(
        F.col("u").alias("node"), F.least("mn", F.col("u")).alias("component")
    )
    # nodes that appear only as a component root of others
    roots = comp.select(F.col("component").alias("node")).distinct().join(
        comp, "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return comp.unionByName(roots)


def link_entities(
    mentions: DataFrame,
    name_col: str = "name",
    jaccard_threshold: float = 0.27,
) -> DataFrame:
    """Full linking pass: distinct mention names -> similarity edges ->
    components -> (name, canonical_name) mapping, where canonical_name
    is the lexicographically smallest member of each cluster (stable,
    deterministic). Names with no near-duplicate map to themselves.
    """
    names = mentions.select(name_col).distinct().cache()
    try:
        ids = names.withColumn("nid", F.xxhash64(F.lower(F.col(name_col))))
        edges = candidate_edges(names, name_col, jaccard_threshold)
        eids = (
            edges.join(ids.withColumnRenamed(name_col, "name_a"), "name_a")
            .withColumnRenamed("nid", "src")
            .join(ids.withColumnRenamed(name_col, "name_b"), "name_b")
            .withColumnRenamed("nid", "dst")
            .select("src", "dst")
        )
        comp = connected_components(eids)
        mapped = (
            ids.join(comp, ids.nid == comp.node, "left")
            .withColumn("component", F.coalesce("component", "nid"))
            .select(name_col, "component")
        )
        canon = mapped.groupBy("component").agg(
            F.min(name_col).alias("canonical_name")
        )
        return mapped.join(canon, "component").select(name_col, "canonical_name")
    finally:
        names.unpersist()


def broadcast_hint_if_small(df: DataFrame, limit_rows: int = 500_000):
    """(materialized df, hint fn): broadcast-hint a mapping only when a
    bounded probe proves it small. An unconditional F.broadcast on the
    discovered-entity mapping is fine for a gazetteer but OOMs the
    driver when a 100 TB corpus discovers more entities than the
    broadcast limit. The df is localCheckpoint'ed first so the probe and
    every downstream join read the materialized rows instead of
    re-executing the linking lineage (review finding: probing two
    renamed views of the same uncached mapping ran the MinHash+CC
    pipeline four times). One probe decides for all consumers."""
    materialized = df.localCheckpoint()
    small = materialized.limit(limit_rows + 1).count() <= limit_rows
    hint = F.broadcast if small else (lambda d: d)
    return materialized, hint


def canonicalize_triples(triples: DataFrame, mentions: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj mention names to canonical cluster names
    and re-dedup — the final KG materialization step (distinct() on
    (subj, pred, obj) mirrors the facts-set idempotent insert,
    data_loader.py:156-164).

    triples: (subj, pred, obj, score, n_support) where subj/obj are
    surface names; mentions: any DF with a `name` column.
    """
    mapping, hint = broadcast_hint_if_small(link_entities(mentions))
    m_subj = mapping.withColumnRenamed("name", "subj").withColumnRenamed(
        "canonical_name", "subj_canon"
    )
    m_obj = mapping.withColumnRenamed("name", "obj").withColumnRenamed(
        "canonical_name", "obj_canon"
    )
    return (
        triples.join(hint(m_subj), "subj", "left")
        .join(hint(m_obj), "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("obj_canon", "obj").alias("obj"),
            "score",
            "n_support",
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.max("score").alias("score"), F.sum("n_support").alias("n_support"))
    )
