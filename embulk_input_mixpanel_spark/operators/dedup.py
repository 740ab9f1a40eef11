"""Deduplication family for document corpora.

Exact + near-duplicate detection, the way a large-scale training-data
pipeline needs them:

- :func:`fingerprint` / :func:`dedup_exact` — content hash over normalized
  text, hash-groupBy keep-min. One shuffle on the fingerprint.
- :func:`shingles` — word n-gram shingle explosion (JVM ``transform`` over
  a token array; no Python).
- :func:`ngram_jaccard_pairs` — exact Jaccard over shingle sets via a
  shingle self-join. Candidate generation joins on the shingle value, so
  ubiquitous shingles create hot keys — ``max_shingle_docs`` (default 1000)
  drops shingles present in more than that many documents (standard df-cap;
  they carry no discriminative signal and their pair-blowup is quadratic).
- :func:`minhash_signatures` / :func:`lsh_candidate_pairs` /
  :func:`jaccard_pairs_lsh` — MinHash+LSH: signature = per-hash min over
  shingles (k aggregates in ONE groupBy pass), banded into ``n_bands``
  bucket keys; only intra-bucket pairs are candidates, then candidates are
  exactly re-scored. Cost is linear in corpus + candidate count — the
  100 TB path (vs the quadratic shingle self-join above).
- :func:`simhash` / :func:`simhash_pairs_banded` — SimHash bit-vote
  signature; near-dup pairs by Hamming distance found via the pigeonhole
  banding (split the signature into ``max_hamming+1`` segments; any pair
  within the radius shares at least one exact segment), which is EXACT —
  identical output to the brute-force all-pairs join, at bucketed-join
  cost.

Hash tiers — every hash-driven operator takes ``portable=``:

- ``portable=False`` (engine default): base hash = ``pmod(xxhash64(x), P31)``.
  Zero crypto hashing in the hot path (JVM MessageDigest serializes under
  high thread counts at >1M rows/batch — see CLAUDE.md), pure codegen.
- ``portable=True`` (oracle tier): base hash = the low 60 bits of ONE md5,
  ``conv(substring(md5(x),1,15),16,10) % P31`` — DuckDB computes the very
  same value as ``('0x' || substr(md5(x),1,15))::BIGINT % 2147483647``, so
  the sf0.01 correctness gate replays hash-identical pipelines.

Either base is expanded into k independent 31-bit hashes by the affine
family ``h_i = (base31 * A_i + B_i) % P31`` (P31 = 2^31-1, Mersenne prime;
``base31 * A_i < 2^62`` so the product neither wraps in Spark longs nor
overflow-errors in DuckDB BIGINTs). One real hash per row, k multiplies.

All of it is native column algebra — no UDFs anywhere in this module.
(reference scope: the reference engine has no dedup family; this module is
the reference-beyond training-data tier from SURVEY.md §2.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "P31",
    "derive_consts",
    "base31",
    "normalize_text",
    "fingerprint",
    "dedup_exact",
    "dedup_keep_best",
    "connected_components",
    "shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_from_shingles",
    "lsh_candidate_pairs",
    "lsh_overflow_buckets",
    "jaccard_pairs_lsh",
    "simhash",
    "simhash_pairs",
    "simhash_pairs_banded",
]

P31 = 2_147_483_647  # 2^31 - 1, Mersenne prime


def derive_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic affine constants (A_i, B_i) for the k-hash family.

    Knuth multiplicative constants folded mod P31; shared verbatim by the
    DuckDB oracle SQL generators in workloads.py (single source of truth).
    """
    return [
        ((2_654_435_761 * (2 * i + 3)) % P31, (40_503 * (i + 1) + 2_246_822_519) % P31)
        for i in range(k)
    ]


def base31(col: str | Column, portable: bool = False) -> Column:
    """Non-negative 31-bit base hash of a string column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    if portable:
        # one md5; low 60 bits as int, reproducible in DuckDB
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % F.lit(P31)
    return F.pmod(F.xxhash64(c), F.lit(P31))


def _derived(base: Column, k: int) -> list[Column]:
    return [
        ((base * F.lit(a) + F.lit(b)) % F.lit(P31)).alias(f"h_{i}")
        for i, (a, b) in enumerate(derive_consts(k))
    ]


def normalize_text(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, r"\s+", " "))


def fingerprint(col: str | Column, portable: bool = True) -> Column:
    """Content fingerprint over whitespace-normalized lowercase text.

    ``portable=True`` (md5 hex — engine-portable, 1 hash per DOCUMENT so
    crypto cost is amortized over the document scan); False = xxhash64 hex
    for the strict no-crypto tier.
    """
    n = normalize_text(col)
    if portable:
        return F.md5(n)
    return F.lower(F.hex(F.xxhash64(n)))


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", portable: bool = True
) -> DataFrame:
    """Exact dedup: one row per fingerprint, keeper = min id."""
    return (
        df.select(F.col(id_col), fingerprint(text_col, portable).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper"))
    )


def dedup_keep_best(
    df: DataFrame,
    quality_col: Column | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """Exact dedup with a quality-aware keeper policy: per fingerprint,
    keep the document maximizing (quality, then lowest id).

    Same single-shuffle shape as :func:`dedup_exact` — the argmax is a
    max-of-struct DeclarativeAggregate (map-side partial reduction; the
    operators/merge.py pattern), so a mega-duplicate group never floods
    one reducer.
    """
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    picked = F.max(
        F.struct(
            F.col("_q").alias("q"),
            (-F.col(id_col)).alias("negid"),
            F.col(id_col).alias("kid"),
        )
    ).alias("_w")
    return (
        df.select(F.col(id_col), fingerprint(text_col, portable).alias("fp"), q.alias("_q"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), picked)
        .select(
            "fp",
            "n_docs",
            F.col("_w.kid").alias("keeper"),
            F.col("_w.q").alias("keeper_quality"),
        )
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    stats: dict | None = None,
) -> DataFrame:
    """Min-label connected components over an undirected pair graph:
    (id, component) where component = smallest id reachable.

    The cluster step of near-dup dedup: LSH pairs say "a ~ b"; dedup must
    collapse whole CLUSTERS to one representative, which is exactly the
    connected component. Iterative min-label propagation ACCELERATED by
    pointer jumping (path halving): each round (a) joins the symmetric
    edge list with current labels and takes the per-vertex min, then (b)
    every vertex additionally adopts its current label's own label
    (``label <- min(label, label(label))``). Step (b) roughly doubles
    label reach per round, so convergence is O(log diameter) rounds — an
    adversarial chain of 1M vertices converges in ~20 rounds instead of
    1M (plain propagation is O(diameter); near-dup clusters are usually
    shallow, but a belt must hold for pathological graphs too — same
    family as the large-star/small-star and Hash-to-Min algorithms).
    Each round is two shuffle joins + one aggregation; labels are
    localCheckpoint'ed so lineage stays O(1) per round (at cluster scale
    the checkpoint goes to reliable storage).

    Safety: the pointer jump is component-preserving (a vertex's label is
    always a vertex of its own component, so the label's label is too) and
    labels decrease monotonically, so the fixpoint is exactly the
    component minimum. If ``max_iters`` rounds pass without convergence
    the function RAISES instead of returning silently-wrong labels.
    ``stats`` (optional dict) receives {"rounds": r, "converged": bool}.

    Label propagation is not SQL-expressible in one query; the oracle
    replays it as a DuckDB recursive CTE (transitive closure + min), which
    is exact for the same edge set.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).localCheckpoint(eager=True)
    rounds, changed = 0, -1
    for rounds in range(1, max_iters + 1):
        prop = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), F.col("label")
        )
        new = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump (path halving): follow one more hop through the
        # label table itself — turns O(diameter) convergence into O(log)
        lab2 = new.select(F.col("id").alias("_lid"), F.col("label").alias("_llab"))
        new = (
            new.join(lab2, new.label == lab2._lid, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("_llab", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = changed == 0
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — "
            "returning non-converged labels would be silently wrong"
        )
    return labels.select(F.col("id"), F.col("label").alias("component"))


def _token_array(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def _runs_jobs(plan) -> bool:
    """True if building the RDD of physical ``plan`` would run Spark jobs:
    an adaptive plan materializes its exchanges, a broadcast or subquery
    runs when prepared."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan" or "Exchange" in name or not plan.subqueries().isEmpty():
        return True
    kids = plan.children()
    return any(_runs_jobs(kids.apply(i)) for i in range(kids.size()))


def _rebalance(df: DataFrame) -> DataFrame:
    """Widen narrow inputs before explosion- or fold-heavy work.

    A small corpus file often arrives as 1-2 scan partitions; the shingle
    or token explosion (or the per-row dot-product folds of
    operators/similarity.py) then runs on a fraction of the cluster. One cheap
    round-robin shuffle of the (small) input unlocks full parallelism for
    the expensive downstream expansion. No-op when the scan is already at
    least as wide as the default parallelism (the 100 TB case).

    Never launches a job. The partition count is read only off an
    exchange-free plan; a frame with an exchange below it is returned as
    is, already as wide as its shuffle made it (under AQE, ``.rdd`` on it
    would execute every exchange only to count partitions). So rebalance
    a batch on its scan, before any join.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _runs_jobs(df._jdf.queryExecution().executedPlan()):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _raw_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Word n-gram shingle explosion (with per-doc repeats): (id, shingle),
    over ``df`` as partitioned (callers :func:`_rebalance` a narrow scan).

    Built as transform over index range -> concat_ws of n consecutive
    tokens; explode. All codegen. Two load-bearing plan details:

    - the token array is materialized in its own projection BEFORE the
      lambda references it — inlined, the regex split would re-run per
      element_at lookup (n per shingle), a measured ~2x slowdown;
    - the explosion is the expensive scan, so consumers shape the
      pipeline so it runs ONCE (posting-list round-trip with
      shuffle-stage reuse), never once per join side.
    """
    step = df.select(F.col(id_col).alias("id"), _token_array(text_col).alias("_toks"))
    tc = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tc) - n, F.lit(-1)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tc, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return step.select("id", F.explode(sh).alias("shingle"))


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Per-shingle posting lists: (shingle, ids array of distinct docs).

    ONE shuffle keyed by shingle gives dedup (collect_set) AND the df-cap
    (filter on posting size) in the same aggregation — no separate
    hot-shingle count pass, no anti-join, no second explosion of the
    corpus. Downstream consumers branch off this frame and Spark reuses
    its shuffle map stage across the branches.
    """
    posting = (
        _raw_shingles(_rebalance(df), text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.collect_set("id").alias("ids"))
    )
    if max_shingle_docs is not None:
        posting = posting.filter(F.size("ids") <= max_shingle_docs)
    return posting


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    ``max_shingle_docs`` applies the df-cap so every consumer (exact
    Jaccard, MinHash, LSH rescore) sees the same capped universe; the cap
    rides the posting-list aggregation (:func:`shingle_postings`).
    """
    if max_shingle_docs is None:
        return _raw_shingles(_rebalance(df), text_col, id_col, n).distinct()
    return shingle_postings(df, text_col, id_col, n, max_shingle_docs).select(
        F.explode("ids").alias("id"), "shingle"
    )


def _jaccard_from_intersections(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_docs: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jac >= threshold).

    Pair generation is quadratic in per-shingle document frequency; the
    df-cap (default 1000) bounds the hot-key blowup. Exact baseline —
    :func:`jaccard_pairs_lsh` is the linear-cost path at scale.

    Plan shape: ONE corpus explosion -> posting lists (one shuffle that
    also applies dedup + df-cap), MATERIALIZED once (eager local
    checkpoint) so the sizes branch and the two size-join references do
    not each recompute the explosion+posting subtree (pre-r6 the corpus
    was exploded 3x — branch-specific column pruning defeats Spark's
    exchange reuse); then intra-posting pair expansion. The pipelined
    explode-explode-filter expansion was A/B'd against an in-row sorted
    tail expansion at sf1.0 (1.2B generated pair rows) and is equal or
    faster — the in-row form materializes up to C(cap, 2) structs per
    posting row, which costs what the halved row count saves.
    """
    posting = shingle_postings(df, text_col, id_col, n, max_shingle_docs).localCheckpoint(
        eager=True
    )
    sizes = (
        posting.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
    )
    # pair key PACKED into one long (id_a << 32 | id_b) for the count
    # aggregation: the exchange under this groupBy carries one long
    # instead of two (pairs repeat ~10x across postings at sf1.0, so the
    # partial agg leaves most of the ~1.2B generated rows on the wire) —
    # A/B'd at sf1.0: 13.7s -> 9.2s for the inter stage. Valid iff ids
    # fit the split (0 <= id_a < 2^31, 0 <= id_b < 2^32); asserted
    # per row (4 codegen comparisons) so an oversized id fails loudly
    # instead of silently colliding pairs.
    ok = (
        (F.col("id_a") >= 0)
        & (F.col("id_a") < F.lit(1 << 31))
        & (F.col("id_b") >= 0)
        & (F.col("id_b") < F.lit(1 << 32))
    )
    inter = (
        posting.filter(F.size("ids") >= 2)  # singletons produce no pairs
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.when(ok, F.shiftleft("id_a", 32).bitwiseOR(F.col("id_b")))
            .otherwise(F.raise_error(F.lit("ngram_jaccard_pairs: doc id out of 32-bit pack range")))
            .alias("pk")
        )
        .groupBy("pk")
        .agg(F.count("*").alias("inter"))
        .select(
            F.shiftright("pk", 32).alias("id_a"),
            F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("id_b"),
            "inter",
        )
    )
    return _jaccard_from_intersections(inter, sizes, threshold)


def minhash_from_shingles(sh: DataFrame, k: int = 16, portable: bool = False) -> DataFrame:
    """k-component MinHash signature from a (id, shingle) frame, one pass."""
    base = base31("shingle", portable)
    hs = _derived(base, k)
    return sh.groupBy("id").agg(*[F.min(h).alias(f"mh_{i}") for i, h in enumerate(hs)])


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """k-component MinHash signature per document, one groupBy pass."""
    sh = shingles(df, text_col, id_col, n, max_shingle_docs=max_shingle_docs)
    return minhash_from_shingles(sh, k=k, portable=portable)


DEFAULT_MAX_BUCKET = 1000  # LSH bucket-size belt, mirrored in the oracle SQL


def _minhash_band_keys(k: int, n_bands: int) -> Column:
    """Band keys from mh_0..mh_{k-1} columns. k must split evenly into
    bands — silently dropping the k % n_bands trailing components would
    quietly weaken recall vs the caller's requested k."""
    if k % n_bands != 0:
        raise ValueError(
            f"k ({k}) must be divisible by n_bands ({n_bands}); trailing "
            "signature components would otherwise be silently dropped"
        )
    per = k // n_bands
    return F.array(
        *[
            F.concat_ws("|", *[F.col(f"mh_{b * per + j}").cast("string") for j in range(per)])
            for b in range(n_bands)
        ]
    )


def _lsh_buckets(signatures: DataFrame, k: int, n_bands: int) -> DataFrame:
    keys = _minhash_band_keys(k, n_bands)
    e = signatures.select(F.col("id"), F.posexplode(keys).alias("band", "bk"))
    return e.groupBy("band", "bk").agg(F.collect_set("id").alias("ids"))


def lsh_overflow_buckets(
    signatures: DataFrame, k: int = 16, n_bands: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Monitoring twin of :func:`lsh_candidate_pairs`: the (band, bk,
    n_ids) buckets the cap DROPPED. Empty means the banding is sized
    right; rows here mean a degenerate signature cluster (usually masses
    of exact/near-exact duplicates — already collapsed by
    :func:`dedup_exact`) or bits-per-band below log2(corpus)."""
    return (
        _lsh_buckets(signatures, k, n_bands)
        .select("band", "bk", F.size("ids").alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket_size)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    k: int = 16,
    n_bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: pairs sharing at least one band bucket (id_a < id_b).

    Posexplode band keys -> ONE (band, key) aggregation into per-bucket id
    lists -> in-row pair expansion. A self-equi-join would compute the
    signature subtree once per side (Spark does not dedupe identical
    logical subtrees pre-AQE); the bucket-list shape computes it ONCE and
    shuffles each (band, id) exactly once.

    Per-bucket expansion is quadratic in bucket size — bounded by
    construction when bits-per-band tracks log2(corpus) (see
    similarity.lsh_bucket_candidates note), and bounded by BELT via
    ``max_bucket_size`` (default 1000): a data-dependent mega-bucket
    (thousands of identical docs -> identical signatures) would otherwise
    expand quadratically inside ONE row and can OOM its executor. Capped
    buckets are dropped — their members are exact/near-exact duplicate
    masses that :func:`dedup_exact` already collapses; use
    :func:`lsh_overflow_buckets` to observe what the cap removed. The
    oracle SQL applies the identical cap, so the gate checks the capped
    contract, not an uncapped ideal.
    """
    bucket = _lsh_buckets(signatures, k, n_bands).filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        bucket = bucket.filter(F.size("ids") <= max_bucket_size)
    return (
        bucket.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def jaccard_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.85,
    n: int = 3,
    k: int = 24,
    n_bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_docs: int | None = 1000,
    portable: bool = False,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs = MinHash-LSH candidates -> exact Jaccard re-score.

    The 100 TB dedup path: candidate generation is linear in corpus size
    (one groupBy for signatures + one bucketed self-join), and the exact
    re-score touches only candidate pairs instead of the full shingle
    self-join. With k=24, n_bands=8 (r=3), a pair at jaccard 0.85 is
    missed with probability (1 - 0.85^3)^8 ~ 5e-4; the sf testdata's
    near-dup clusters sit at j >= 0.89 and are all recovered (verified
    against the brute-force oracle at sf0.001/0.01/0.1).

    Plan shape: ONE corpus explosion -> posting lists (dedup + df-cap in
    one shuffle) -> ONE per-doc aggregation computing BOTH the shingle
    set and all k minhash components, MATERIALIZED once (eager local
    checkpoint): the candidate branch and the two re-score join sides
    each prune different columns out of the aggregate, which defeats
    Spark's exchange reuse — without the checkpoint the corpus explosion
    + posting shuffle + per-doc aggregation ran THREE times (pinned by
    the r6 before/after plans). The exact re-score then joins the small
    candidate set back to the per-doc shingle-HASH arrays and intersects
    them in-row (array_intersect over xxhash64(shingle) longs — same set
    cardinalities as the string sets, 64-bit collision odds ~n^2/2^65,
    the same contract the incremental store ships; verified hash-equal
    vs the string-set oracle at sf0.001/0.01/0.1) — the corpus is never
    exploded or self-joined again.
    """
    sh = shingles(df, text_col, id_col, n, max_shingle_docs=max_shingle_docs)
    base = base31("shingle", portable)
    hs = _derived(base, k)
    perdoc = sh.groupBy("id").agg(
        F.collect_set(F.xxhash64("shingle")).alias("shs"),
        *[F.min(h).alias(f"mh_{i}") for i, h in enumerate(hs)],
    ).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(
        perdoc.drop("shs"), k=k, n_bands=n_bands, max_bucket_size=max_bucket_size
    )
    a = perdoc.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = perdoc.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.size("shs_a") + F.size("shs_b") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    bits: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """SimHash: per-bit majority vote of token hashes (bit j of base31)."""
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    toks = _rebalance(df).select(
        F.col(id_col).alias("id"), F.explode(_token_array(text_col)).alias("tok")
    )
    h = base31("tok", portable)
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return agg.select("id", sig.alias("simhash"))


def _hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


BRUTE_FORCE_MAX_ROWS = 100_000


def _guard_brute_force(df: DataFrame, what: str, force: bool) -> None:
    """Refuse O(n^2) baselines on large inputs unless explicitly forced.

    The brute-force tiers exist as labeled ground truth for the LSH scale
    paths; this makes that contract enforceable instead of advisory (one
    config typo away from an n^2 job at 100 TB). The count is a
    column-less metadata scan — cheap relative to the n^2 join it gates.
    """
    if force:
        return
    n = df.count()
    if n > BRUTE_FORCE_MAX_ROWS:
        raise ValueError(
            f"{what} is an O(n^2) brute-force baseline and the input has "
            f"{n} rows (> {BRUTE_FORCE_MAX_ROWS}). Use the LSH/banded scale "
            "path, or pass force=True if you really mean it."
        )


def simhash_pairs(sig: DataFrame, max_hamming: int = 2, force: bool = False) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash (id_a < id_b).

    Brute-force all-pairs baseline — O(n^2) range join; kept for oracle
    formulation and tiny inputs (refuses > BRUTE_FORCE_MAX_ROWS rows
    without ``force=True``). :func:`simhash_pairs_banded` produces the
    IDENTICAL result via pigeonhole bucketing and is the executed path.
    """
    _guard_brute_force(sig, "simhash_pairs", force)
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", _hamming(F.col("ha"), F.col("hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_banded(
    sig: DataFrame,
    bits: int = 24,
    max_hamming: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT Hamming-radius pairs via pigeonhole banding.

    Split the ``bits``-wide signature into ``max_hamming + 1`` segments:
    any pair within the radius differs in <= max_hamming bits, so at least
    one segment matches exactly (pigeonhole) — candidates come from ONE
    bucketed self-equi-join on (segment index, segment value), then the
    true Hamming filter runs on candidates only. Output == simhash_pairs
    (guaranteed, not probabilistic), at linear + |candidates| cost.

    ``max_bucket_size`` is the same executor-OOM belt as
    lsh_candidate_pairs — it defaults to None HERE because capping breaks
    the exactness contract above (a dropped segment bucket can hide true
    pairs); set it when running over corpora where mass-duplicate
    signatures are possible and exact dups are already collapsed upstream
    by :func:`dedup_exact`.
    """
    n_seg = max_hamming + 1
    width = bits // n_seg
    segs = []
    for s in range(n_seg):
        lo = s * width
        w = width if s < n_seg - 1 else bits - lo  # last segment takes the remainder
        segs.append(F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << w) - 1)))
    e = sig.select("id", "simhash", F.posexplode(F.array(*segs)).alias("seg", "sv"))
    bucket = (
        e.groupBy("seg", "sv")
        .agg(F.collect_set(F.struct("id", "simhash")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    if max_bucket_size is not None:
        bucket = bucket.filter(F.size("xs") <= max_bucket_size)
    cand = (
        bucket.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming(F.col("ha"), F.col("hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
