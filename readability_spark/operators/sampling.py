"""Deterministic sampling operators for training-data pipelines.

Web-scale corpus construction needs reproducible sampling: the same corpus
snapshot and the same config must select the same rows on any cluster size,
any partitioning, any retry — which rules out `DataFrame.sample` (seeded
per-partition RNG: the selection changes whenever the partitioning does).
These operators hash the stable row key instead: a row is kept iff
h(doc_id) < rate, where h is the first 32 bits of md5 mapped to [0, 1).

md5 (rather than xxhash64) keeps the operator inside the Spark/DuckDB
shared-function subset, so sampling — like every other pipeline stage —
has an exact cross-engine SQL oracle. Cost is one hash per row, pure
codegen projection + filter: zero shuffles, embarrassingly parallel at
any scale, and the sample rate is exactly composable (a p-sample of a
q-sample is a min(p,q)-sample, since both cut the same hash axis).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The hash is uniform on [0, 2^32), so P(h < rate * 2^32) == rate
_HASH_SPACE = float(2**32)


def unit_hash(key_col: str) -> Column:
    """Uniform [0, 1) hash of a column: first 8 hex chars of md5 as a 32-bit
    integer (conv() is value-identical to the oracle's nibble arithmetic —
    same trick as simhash64), scaled into the unit interval."""
    h32 = F.expr(
        f"cast(conv(substr(md5(cast({key_col} as string)), 1, 8), 16, 10) as bigint)"
    )
    return h32 / F.lit(_HASH_SPACE)


def deterministic_sample(
    docs: DataFrame, rate: float, key_col: str = "doc_id"
) -> DataFrame:
    """Partition-independent Bernoulli(rate) sample keyed on ``key_col``.

    Returns the input rows plus the unit hash ``u`` (useful downstream:
    filtering ``u < rate2`` later subsamples consistently)."""
    return docs.withColumn("u", unit_hash(key_col)).filter(F.col("u") < rate)


def stratified_sample(
    docs: DataFrame,
    rates: "dict[str, float]",
    stratum_col: str = "lang",
    default_rate: float = 0.0,
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing primitive
    (e.g. keep 50% of English, 10% of everything else to rebalance a crawl).

    ``rates`` maps stratum value → keep probability; strata not listed get
    ``default_rate``. Same unit-hash mechanics as
    :func:`deterministic_sample`: one codegen projection, no shuffle, and
    raising one stratum's rate strictly grows that stratum's sample while
    leaving every other row's fate unchanged (nested samples — handy for
    ablation corpora).
    """
    rate_expr: Column = F.lit(float(default_rate))
    for value, rate in sorted(rates.items()):
        rate_expr = F.when(F.col(stratum_col) == value, F.lit(float(rate))).otherwise(
            rate_expr
        )
    return docs.withColumn("u", unit_hash(key_col)).filter(F.col("u") < rate_expr)


def mix_corpus(
    docs: DataFrame,
    weights: "dict[str, float]",
    total: int,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Pile/DoReMi-style mixture construction: build a training corpus whose
    per-source composition matches target ``weights``, up-sampling scarce
    high-weight sources by *epoch replication* (the Pile repeats Wikipedia
    3x per epoch; DoReMi reweights domains the same way) and down-sampling
    the rest.

    For source s with n_s docs and normalized weight w_s, the required doc
    count is r_s = w_s * total, i.e. rate_s = r_s / n_s epochs per doc:
    every doc yields floor(rate_s) copies plus one more iff its unit hash
    falls below the fractional part. Expected output size is exactly
    ``total``; sources absent from ``weights`` are dropped. Deterministic
    on any cluster size/partitioning — same unit-hash axis as the other
    sampling ops, so mixtures nest with sub/over-sampling stages.

    Returns one row per (doc, epoch): ``(key, source, epoch, n_copies)``.

    Plan shape at 100 TB: per-source counts are one map-side-combined
    groupBy over a slim (source) projection; the source→rate table is
    k rows and **broadcast** back; replication is sequence+explode. The
    document payload never enters a shuffle.
    """
    wsum = float(sum(weights.values()))
    rate_w: Column = F.lit(None).cast("double")
    for value, w in sorted(weights.items()):
        rate_w = F.when(F.col(source_col) == value, F.lit(w / wsum)).otherwise(rate_w)
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n"))
    rates = counts.select(
        source_col, (rate_w * F.lit(float(total)) / F.col("n")).alias("rate")
    ).filter(F.col("rate").isNotNull())
    j = docs.select(key_col, source_col).join(F.broadcast(rates), source_col)
    c = j.select(
        key_col,
        source_col,
        (
            F.floor("rate").cast("int")
            + F.when(unit_hash(key_col) < F.col("rate") - F.floor("rate"), 1).otherwise(0)
        ).alias("n_copies"),
    ).filter(F.col("n_copies") >= 1)
    return c.select(
        key_col,
        source_col,
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("epoch"),
        "n_copies",
    )


def unimax_allocation(
    docs: DataFrame,
    budget_tokens: float,
    epoch_cap: float = 4.0,
    source_col: str = "source",
) -> DataFrame:
    """UniMax language/domain sampling (Chung et al. 2023,
    arXiv:2304.09151): split a total training-token budget as UNIFORMLY as
    possible across domains, subject to no domain being repeated more than
    ``epoch_cap`` epochs — the fairness-first alternative to
    temperature sampling. The optimum is waterfilling: alloc_k =
    min(cap_k, lambda) with the water level lambda chosen so allocations
    sum to the budget; small domains hit their epoch cap, large ones share
    the remainder evenly.

    Closed form, fully declarative: sort domains by cap ascending; with
    prefix sums S_j over K rows, the capped set is the prefix up to
    t = max{ j : cap_j * (K - j + 1) <= budget - S_{j-1} } and
    lambda = (budget - S_t) / (K - t) (all-capped when the total corpus at
    epoch_cap fits the budget). Everything after the per-domain token
    count is window arithmetic over the K-row DOMAIN table — a
    driver-sized frame (the single-partition window is over K domains,
    never the corpus), so the 100-TB cost is one map-side-combined
    groupBy of the token counts.

    Output: (domain, n_tokens, cap_tokens, alloc_tokens, epochs, capped)
    — epochs = alloc/n_tokens is the replication factor a sampler (e.g.
    :func:`mix_corpus`) consumes.
    """
    from pyspark.sql import Window

    from readability_spark.operators.dedup import round4

    b = float(budget_tokens)
    counts = docs.groupBy(source_col).agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("n_tokens")
    )
    wo = Window.orderBy("cap_tokens", source_col)
    wall = Window.partitionBy()
    step1 = (
        counts.withColumn("cap_tokens", F.col("n_tokens") * F.lit(float(epoch_cap)))
        .withColumn("j", F.row_number().over(wo))
        .withColumn("s", F.sum("cap_tokens").over(wo))
        .withColumn("k", F.count("*").over(wall))
    )
    flag = (F.col("cap_tokens") * (F.col("k") - F.col("j") + 1)) <= (
        F.lit(b) - (F.col("s") - F.col("cap_tokens"))
    )
    step2 = step1.withColumn(
        "t", F.max(F.when(flag, F.col("j")).otherwise(0)).over(wall)
    ).withColumn(
        "s_t",
        F.coalesce(
            F.max(F.when(F.col("j") == F.col("t"), F.col("s"))).over(wall),
            F.lit(0.0),
        ),
    )
    lam = F.when(
        F.col("k") > F.col("t"),
        (F.lit(b) - F.col("s_t")) / (F.col("k") - F.col("t")),
    )
    alloc = F.least(F.col("cap_tokens"), F.coalesce(lam, F.col("cap_tokens")))
    return step2.select(
        F.col(source_col).alias("domain"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        round4(F.col("cap_tokens")).alias("cap_tokens"),
        round4(alloc).alias("alloc_tokens"),
        round4(alloc / F.col("n_tokens")).alias("epochs"),
        (F.col("j") <= F.col("t")).alias("capped"),
    )


def quota_sample(
    docs: DataFrame,
    quotas: "dict[str, int]",
    stratum_col: str = "lang",
    n_salts: int = 16,
    key_col: str = "doc_id",
) -> DataFrame:
    """Exact per-stratum quota sampling — the eval-set builder: EXACTLY
    min(quota, n_stratum) docs per stratum (rate sampling can't promise a
    count), selected in unit-hash order so the choice is deterministic on
    any partitioning AND minimally churning as the corpus grows: a doc
    leaves the sample only if enough lower-hash docs arrive to push it
    past the quota.

    Strata absent from ``quotas`` are dropped. Salted two-phase rank
    (the domain_top_k shape, snapshots.py:45): phase 1 ranks within
    (stratum, key % n_salts) — bounded partitions — and keeps quota per
    salt; phase 2 ranks the <= quota*n_salts survivors per stratum.
    Correct because a row outside its salt group's top-quota cannot be
    in the stratum's top-quota; no 10^9-doc stratum ever sorts in one
    task.

    Output: (doc_id, stratum, u, rk) with rk the 1-based hash rank.
    """
    from pyspark.sql import Window

    quota_expr: Column = F.lit(None).cast("int")
    for value, q in sorted(quotas.items()):
        quota_expr = F.when(F.col("stratum") == value, F.lit(int(q))).otherwise(
            quota_expr
        )
    base = (
        docs.select(key_col, F.col(stratum_col).alias("stratum"))
        .withColumn("u", unit_hash(key_col))
        .withColumn("_q", quota_expr)
        .filter(F.col("_q").isNotNull())
    )
    order = [F.col("u").asc(), F.col(key_col).asc()]
    w1 = Window.partitionBy("stratum", F.col(key_col) % n_salts).orderBy(*order)
    phase1 = base.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= F.col("_q")
    )
    w2 = Window.partitionBy("stratum").orderBy(*order)
    return (
        phase1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= F.col("_q"))
        .select(key_col, "stratum", "u", "rk")
    )


def temperature_mix(
    docs: DataFrame,
    budget_tokens: float,
    tau: float = 0.3,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-based domain sampling (the multilingual-pretraining
    standard before UniMax — mT5/XLM-R style): allocate the token budget
    proportionally to n_k^tau, flattening the natural distribution
    (tau=1: proportional; tau=0: uniform). The third published mixing
    strategy next to :func:`unimax_allocation` (fairness-capped) and the
    Group-DRO reweighting (loss-driven) — a pipeline should offer all
    three.

    One map-side-combined token-count groupBy, then pure window
    arithmetic over the K-row domain table (driver-sized frame).

    Output: (domain, n_tokens, share, alloc_tokens, epochs, oversampled)
    — ``oversampled`` marks domains whose allocation exceeds one epoch
    of their data (the replication a sampler must apply).
    """
    from pyspark.sql import Window

    from readability_spark.operators.dedup import round4

    b = float(budget_tokens)
    counts = docs.groupBy(source_col).agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("n_tokens")
    )
    wall = Window.partitionBy()
    powed = F.pow(F.col("n_tokens"), F.lit(float(tau)))
    step = counts.withColumn("w", powed).withColumn(
        "share", F.col("w") / F.sum("w").over(wall)
    )
    alloc = F.col("share") * F.lit(b)
    return step.select(
        F.col(source_col).alias("domain"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        round4(F.col("share")).alias("share"),
        round4(alloc).alias("alloc_tokens"),
        round4(alloc / F.col("n_tokens")).alias("epochs"),
        (alloc > F.col("n_tokens")).alias("oversampled"),
    )


DEFAULT_SPLITS = (("train", 0.9), ("val", 0.05), ("test", 0.05))


def _split_bounds(splits) -> list:
    """Cumulative upper bounds for all but the last split, normalized.
    The identical Python accumulation order is used to generate the oracle
    literals, so the float boundaries match bit-exactly across engines."""
    total = float(sum(f for _, f in splits))
    bounds, acc = [], 0.0
    for name, frac in splits[:-1]:
        acc += frac / total
        bounds.append((name, acc))
    return bounds


def _split_col(splits) -> Column:
    expr: Column = F.lit(splits[-1][0])
    u = unit_hash("coalesce(cluster_id, doc_id)")
    for name, bound in reversed(_split_bounds(splits)):
        expr = F.when(u < bound, F.lit(name)).otherwise(expr)
    return expr


def _split_assignment(docs: DataFrame, labels: DataFrame, splits) -> DataFrame:
    base = docs.select("doc_id").join(
        labels.select("doc_id", "cluster_id"), "doc_id", "left"
    )
    return base.select(
        "doc_id",
        "cluster_id",
        _split_col(splits).alias("split"),
        F.col("cluster_id").isNotNull().alias("is_clustered"),
    )


def leakage_safe_split(docs: DataFrame, splits=DEFAULT_SPLITS) -> DataFrame:
    """Dedup-aware train/val/test split: the unit of assignment is the
    near-dup CLUSTER, not the document, so two near-duplicate pages can
    never land one in train and one in eval — the standard leakage bug a
    doc-keyed split has on web corpora. Every doc's split key is its
    MinHash-LSH component id (uniques: their own doc_id); the key's md5
    unit hash is cut at the cumulative split fractions.

    Deterministic on any cluster size/partitioning (hash-keyed like every
    sampling op — no seeded RNG). Scale shape: cluster labels come from
    the banded-LSH + log-round large/small-star pipeline and only docs WITH
    a near-dup appear in the label table; the assignment join is
    doc_id-to-doc_id, and the split projection is pure codegen.

    Output: (doc_id, split, is_clustered) for every input doc.
    """
    from readability_spark.operators.dedup import minhash_lsh_pairs
    from readability_spark.operators.graph import cc_large_small_star

    labels = cc_large_small_star(minhash_lsh_pairs(docs))
    return _split_assignment(docs, labels, splits).select(
        "doc_id", "split", "is_clustered"
    )


def split_leakage_audit(docs: DataFrame, splits=DEFAULT_SPLITS) -> DataFrame:
    """Per-split audit of :func:`leakage_safe_split` — the report a
    pipeline gate reads before training: split sizes, how much of each
    split is near-dup-clustered, cluster counts, and the leakage
    invariant itself (straddling_pairs: verified near-dup pairs with
    exactly one endpoint in the split — 0 by construction, and computing
    it IS the gate; a nonzero value means the split keying broke).

    Scale shape: the pair table is re-used for components and the
    straddle join (checkpointed once); the straddle join keys on doc_id
    against the slim (doc_id, split) projection; the final aggregate is
    K-splits-row tiny.
    """
    from readability_spark.operators.dedup import minhash_lsh_pairs
    from readability_spark.operators.graph import cc_large_small_star

    # pairs feeds two consumers (components + the straddle join); the
    # assignment feeds three (per-split agg + both straddle endpoints).
    pairs = minhash_lsh_pairs(docs).localCheckpoint(eager=False)
    labels = cc_large_small_star(pairs)
    assignment = _split_assignment(docs, labels, splits).localCheckpoint(
        eager=False
    )
    per = assignment.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("is_clustered").cast("int")).cast("bigint").alias(
            "n_clustered_docs"
        ),
        F.count_distinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    ends = pairs.join(
        assignment.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
        "id_a",
    ).join(
        assignment.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
        "id_b",
    )
    crossed = ends.filter(F.col("sa") != F.col("sb"))
    straddle = (
        crossed.select(F.col("sa").alias("split"))
        .unionByName(crossed.select(F.col("sb").alias("split")))
        .groupBy("split")
        .agg(F.count("*").cast("bigint").alias("sp"))
    )
    return per.join(straddle, "split", "left").select(
        "split",
        "n_docs",
        "n_clustered_docs",
        "n_clusters",
        F.coalesce(F.col("sp"), F.lit(0)).cast("bigint").alias("straddling_pairs"),
    )


def chunk_sliding(
    docs: DataFrame, chunk_tokens: int = 128, overlap: int = 32
) -> DataFrame:
    """Sliding-window document chunking — the RAG/pretraining segmenter:
    fixed-size token windows at stride ``chunk_tokens - overlap`` so
    consecutive chunks share ``overlap`` tokens and no content is lost at
    chunk boundaries. Start positions are 0, step, 2·step, … for every
    start < n_tokens (the final chunk may be short).

    Pure per-row array expressions (sequence/transform/slice) + one
    explode — zero Python, zero shuffles; at 10^12 docs this is a map-only
    stage whose output rows ≈ corpus_tokens / step.

    Output: (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_fp) —
    the chunk text rides as its md5 fingerprint so downstream exact-dedup
    of chunks (chunk_dedup) and the oracle compare 32-byte strings, not
    re-shipped text.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / step).cast("int")),
        lambda ci: F.struct(
            ci.cast("int").alias("chunk_idx"),
            (ci * step).cast("int").alias("start_tok"),
            F.least(F.lit(chunk_tokens), n - ci * step).cast("int").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.slice(toks, ci * step + 1, chunk_tokens))).alias(
                "chunk_fp"
            ),
        ),
    )
    return (
        docs.filter(n >= 1)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.start_tok", "c.n_chunk_tokens", "c.chunk_fp")
    )


def weighted_sample(
    docs: DataFrame, k: int = 100, weight_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis & Spirakis 2006
    (algorithm A-ES): each row draws u = unit_hash(key) and the k rows
    with the smallest exponential keys e = -ln(u) / w form an exact
    weight-proportional sample (P(row in sample) follows successive
    weighted draws without replacement). The pipeline use is
    quality-weighted subsampling: w = token count here, so long documents
    are proportionally likelier, but ANY positive weight expression works
    (classifier score, domain prior, inverse duplication weight).

    Deterministic like every sampler in this module: u comes from the md5
    unit hash, not an RNG, so the same corpus + config selects the same
    rows on any partitioning, any cluster size, any retry.

    Engine determinism: ln() may differ by 1 ulp between the JVM and
    DuckDB's libm, so rows are ORDERED by the quantized key
    floor(e * 1e9) (bigint) with key_col as tiebreak — a selection flip
    would need a true key within ~1e-7 of both a quantization edge and
    the k-boundary simultaneously.

    Plan shape: one codegen projection (hash + ln, no shuffle) feeding a
    global top-k — Spark plans orderBy().limit(k) as
    TakeOrderedAndProject: per-partition top-k then a k-row merge, never
    a global sort. At 10^12 rows this is a scan plus k rows of driver
    state.

    Output: (doc_id, w, rk) with rk the 1-based selection order.
    """
    from pyspark.sql import Window

    w = F.size(F.split(F.col(weight_col), " ")).cast("double")
    base = (
        docs.select(key_col, w.alias("w"))
        .filter(F.col("w") > 0)
        .withColumn("u", unit_hash(key_col))
        # u == 0 (p = 2^-32) would give ln(0); clamp to the smallest
        # representable hash step, identically in the oracle.
        .withColumn(
            "ek",
            F.floor(-F.log(F.greatest(F.col("u"), F.lit(1.0 / _HASH_SPACE))) / F.col("w") * 1e9).cast(
                "long"
            ),
        )
    )
    picked = base.orderBy(F.col("ek").asc(), F.col(key_col).asc()).limit(k)
    # rank the k survivors: single-partition window on k rows only.
    wk = Window.partitionBy().orderBy(F.col("ek").asc(), F.col(key_col).asc())
    return picked.withColumn("rk", F.row_number().over(wk)).select(
        key_col, F.col("w").cast("bigint").alias("w"), "rk"
    )
