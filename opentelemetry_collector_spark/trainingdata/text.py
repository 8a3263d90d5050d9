"""Text-analysis primitives: tokenization, token counting, quality
scoring, language identification, document fingerprinting.

Everything here is pure JVM-side expression (whole-stage codegen; no
Python in the hot path). The arithmetic rolling hash exists so results
are reproducible in ANY engine from the SQL definition alone — at
100 TB you would swap `rolling_hash` for `F.xxhash64` (one JVM hash vs
a per-char aggregate) without changing any downstream operator; the
oracle-parity hash is kept because the driver's DuckDB cross-check
needs a bit-identical definition on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# shared arithmetic-hash constants (same literals in the SQL oracles)
HASH_BASE = 131
HASH_MOD = 1_000_000_007

# ~20 most frequent function words per language — enough for a
# deterministic n-gram/stopword-vote heuristic; ties break by the
# fixed language order below (lexicographic).
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
           "von", "auf", "zu", "den", "dem", "sich", "im", "aber", "auch"],
    "en": ["the", "a", "an", "and", "or", "is", "are", "was", "of", "to",
           "in", "on", "for", "with", "it", "this", "that", "as"],
    "es": ["el", "la", "los", "las", "y", "es", "no", "un", "una", "con",
           "de", "en", "por", "para", "que", "se", "del", "como"],
    "fr": ["le", "la", "les", "et", "est", "ne", "pas", "un", "une", "avec",
           "de", "dans", "pour", "que", "qui", "au", "sur", "ce"],
}
LANG_ORDER = sorted(STOPWORDS)  # de, en, es, fr — deterministic tie-break

# BPE-ish pre-tokenizer: word pieces, numbers, or single punctuation —
# the GPT-2-style pretokenization regex shape, simplified to the
# Java/RE2-common subset so Spark and DuckDB agree.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ensure_compute_parallelism(df):
    """Round-robin repartition a frame whose partition count is below
    the session's default parallelism — guard for CPU-bound text
    operators (per-char rolling hashes, shingle explodes) whose cost
    is per ROW, not per byte.

    Why: Spark splits file scans by BYTES (``maxPartitionBytes``), so
    a corpus that is small on disk but expensive per row lands in one
    split and the whole signature stage serializes on one core
    (measured 4.3x on simhash pairs at sf0.1, whose documents table is
    one 2 MB parquet row group). At production scale the scan has
    thousands of splits and this returns the input unchanged — the
    repartition only ever fires on under-split inputs, where the rows
    it moves are few by construction. Row order changes, so callers
    must be order-independent (every dedup/signature operator is;
    sequence packing is NOT and must not use this)."""
    try:
        # sparkContext/rdd raise on Spark Connect — degrade to the
        # unchanged frame there
        target = df.sparkSession.sparkContext.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)


def let_col(col: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``col`` ONCE and
    pass it to ``body`` as a bound lambda variable.

    Why: referencing an outer (non-trivial) expression inside a
    higher-order-function lambda re-evaluates it PER ELEMENT — e.g. a
    shingle transform that slices ``split(lower(text))`` re-tokenizes
    the document at every window position, turning an O(tokens) pass
    into O(tokens^2) char copying (measured 6x on the shingle explode
    at sf0.1). Wrapping the expression in a single-element
    ``transform`` makes it a lambda variable, which Catalyst binds
    once per row. Purely an evaluation-strategy change — results are
    bit-identical, so SQL oracles are unaffected."""
    return F.get(F.transform(F.array(col), body), 0)


def rolling_hash(col: Column, base: int = HASH_BASE, mod: int = HASH_MOD) -> Column:
    """Polynomial rolling hash over the string's code points:
    ``h = (h*base + code) % mod`` — the Rabin–Karp fingerprint
    primitive, evaluated entirely in codegen via ``F.aggregate``."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * base + x) % mod
    )


def production_hash(col: Column, mod: int = HASH_MOD) -> Column:
    """The 100 TB hash path: one JVM ``xxhash64`` intrinsic folded into
    the same [0, mod) range the rolling hash uses, so every MinHash/
    SimHash operator accepts it as a drop-in ``hash_fn``. Not
    DuckDB-reproducible (xxhash64 seed/variant is Spark's), so the
    driver oracles keep ``rolling_hash``; parity of the OPERATORS under
    this hash is pinned by tests (same near-dup pairs on the fixture,
    exact dups always collide)."""
    return F.pmod(F.xxhash64(col), F.lit(mod))


def tokens_col(col: Column) -> Column:
    """Lowercased whitespace tokens (empty-string-safe)."""
    return F.split(F.lower(F.trim(col)), r" +")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex — counts
    word/number/punctuation pieces the way a BPE tokenizer's
    pre-split would, without a vocab."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def quality_metrics(col: Column) -> dict[str, Column]:
    """The standard cheap quality signals: length, token stats,
    punctuation ratio, stopword ratio, alpha ratio."""
    toks = tokens_col(col)
    n_chars = F.length(col).cast("long")
    n_toks = F.size(toks).cast("long")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    punct = F.length(F.regexp_replace(col, r"[^.,!?;:]", "")).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", "")).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "mean_token_len": (n_chars.cast("double") / n_toks.cast("double")),
        "punct_ratio": punct / n_chars.cast("double"),
        "alpha_ratio": alpha / n_chars.cast("double"),
        "stopword_ratio": (
            F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))).cast("double")
            / n_toks.cast("double")
        ),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1]-ish quality score: rewards mid-length docs with
    healthy stopword density and penalizes punctuation walls. Weights
    are fixed constants (shared with the SQL oracle); rounded to 6dp
    so cross-engine float comparison is stable."""
    m = quality_metrics(col)
    length_term = F.least(m["n_tokens"].cast("double") / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_term
        + F.lit(0.4) * F.least(m["stopword_ratio"] * 4.0, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(m["punct_ratio"] * 10.0, F.lit(1.0)))
    )
    return F.round(score, 6)


def lang_id_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (distinct-token votes)."""
    toks = F.array_distinct(tokens_col(col))
    out = {}
    for lang in LANG_ORDER:
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        out[lang] = F.size(F.array_intersect(toks, stop)).cast("long")
    return out


def lang_id(col: Column) -> Column:
    """Predicted language = argmax stopword votes, 'und' (undetermined)
    when no language scores a single hit; ties break by LANG_ORDER."""
    scores = lang_id_scores(col)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # build CASE in reverse order so earlier langs win ties
    for lang in reversed(LANG_ORDER):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def doc_fingerprint(col: Column) -> Column:
    """Document fingerprint = rolling hash of the normalized
    (lowercased, whitespace-collapsed) text — the exact-dedup and
    shingle-hash primitive."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return rolling_hash(normalized)


# ---------------------------------------------------------------------------
# deterministic dataset splits
# ---------------------------------------------------------------------------

def split_bucket(col: Column, n_buckets: int = 10_000) -> Column:
    """Deterministic hash bucket in [0, n_buckets) from a key column:
    the first 8 hex chars of md5(key) as an integer, mod n_buckets.
    md5 (not xxhash64) so an external engine — or the same pipeline
    re-run years later on different hardware — assigns every document
    the SAME bucket: dataset splits must be a property of the KEY, not
    of a session, a seed, or row order (``F.rand`` re-splits on every
    retry and shuffles records across train/val between runs, which
    leaks eval data into training)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long") % n_buckets
    )


def assign_split(
    col: Column,
    fractions: dict[str, float] | None = None,
    n_buckets: int = 10_000,
) -> Column:
    """Stable train/val/test assignment from cumulative bucket ranges:
    ``fractions`` (name → fraction, summing to ≤ 1, remainder goes to
    the FIRST split) maps to contiguous bucket ranges, so enlarging
    val from 1% to 2% only MOVES the boundary — documents never swap
    between val and test, the property that keeps eval sets stable as
    split ratios evolve."""
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not fractions:
        raise ValueError("fractions must name at least one split")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    names = list(fractions)
    bucket = split_bucket(col, n_buckets)
    # assign from the END of the bucket range backward so the first
    # split absorbs any rounding remainder
    expr = F.lit(names[0])
    hi = n_buckets
    for name in reversed(names[1:]):
        width = int(round(fractions[name] * n_buckets))
        lo = hi - width
        expr = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(expr)
        hi = lo
    return expr


def stratified_sample(
    df,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    n_buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling: a row survives iff its
    key's md5 bucket falls below ``round(frac * n_buckets)`` for its
    stratum. Unlike ``df.sample`` / ``F.rand`` (whose membership
    depends on partitioning, retries and seed plumbing), the kept set
    is a pure function of the KEY: re-runs, task retries, row order
    and cluster size cannot change the sample, and growing a stratum's
    fraction only ADDS rows (the kept set is a bucket-space prefix) —
    incremental re-curation keeps everything already sampled. Strata
    absent from ``fractions`` are dropped (fraction 0). ``salt``
    decorrelates this sample from other hash uses of the same key
    (e.g. ``assign_split``): different salts draw independent buckets.

    One whole-stage-codegen filter over the scan — no shuffle, no UDF;
    at 100 TB this is a predicate, not a job.
    """
    thresh = None
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} is {frac}, not in [0, 1]")
        t = F.lit(int(round(frac * n_buckets)))
        cond = F.col(strata_col) == name
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    if thresh is None:
        raise ValueError("fractions must name at least one stratum")
    key = F.col(key_col).cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    return df.filter(split_bucket(key, n_buckets) < thresh.otherwise(F.lit(0)))


def sample_to_token_budget(
    df: DataFrame,
    budgets: dict[str, int] | int,
    group_col: str,
    key_col: str,
    weight_col: str,
    n_buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Mixture weighting: cap each group (source, domain, language) at
    a total-token budget, deterministically. ``budgets`` maps group →
    maximum summed ``weight_col`` to keep (groups absent from the dict
    are kept IN FULL — this is a cap, not a whitelist); an int caps
    every group at the same budget. The kept set is the greedy
    bucket-space prefix: documents are ordered by their salted md5
    bucket (``split_bucket``) and whole buckets are kept while the
    group's running token total stays ≤ its budget. Like
    ``stratified_sample`` the result is a pure function of the KEY —
    re-runs, retries, row order and cluster size cannot change it —
    and raising a budget only ADDS documents (prefix property), so
    re-mixing a corpus never un-selects data a previous run shipped.

    Budget adherence is bucket-granular: one bucket holds ~1/n_buckets
    of the group's tokens in expectation, so the kept total lands
    within about ``group_tokens / n_buckets`` below the budget; raise
    ``n_buckets`` for tighter adherence. A group whose FIRST bucket
    already exceeds its budget keeps nothing (strict cap; at the
    default 10k buckets that means a budget under ~0.01% of the
    group's tokens). Weights must be non-negative (the running total
    must be monotone for the prefix rule to be a cap).

    Scale shape (100 TB): one map-side-combined shuffle of
    (group, bucket, partial-sum) — ≤ groups × n_buckets rows out —
    then a window cumsum over that tiny histogram, a per-group
    conditional max, and a broadcast join of one (group, cutoff) row
    per CAPPED group back onto the corpus scan; the data-sized path is
    a single whole-stage-codegen filter. The broadcast is bounded by
    the mixture spec itself (one row per capped group), never by the
    corpus. The reference collector has no data-mixing stage (it is a
    telemetry pipeline); this operator belongs to the training-data
    tier alongside ``stratified_sample``/``assign_split``."""
    from pyspark.sql.window import Window

    key = F.col(key_col).cast("string")
    if salt:
        key = F.concat(key, F.lit(salt))
    bucket = split_bucket(key, n_buckets)

    hist = (
        df.select(
            F.col(group_col).alias("_tb_grp"),
            bucket.alias("_tb_bucket"),
            F.col(weight_col).cast("long").alias("_tb_w"),
        )
        .groupBy("_tb_grp", "_tb_bucket")
        .agg(F.sum("_tb_w").alias("_tb_tok"))
    )
    if isinstance(budgets, int):
        if budgets < 0:
            raise ValueError(f"budget is {budgets}, negative")
        budget_of = F.lit(int(budgets)).cast("long")
    else:
        if not budgets:
            raise ValueError("budgets must name at least one group (or be an int)")
        budget_of = None
        for name, b in budgets.items():
            if int(b) < 0:
                raise ValueError(f"budget for {name!r} is {b}, negative")
            cond = F.col("_tb_grp") == F.lit(name)
            lit = F.lit(int(b)).cast("long")
            budget_of = (
                F.when(cond, lit) if budget_of is None else budget_of.when(cond, lit)
            )
        # uncapped groups never reach the cumsum: pruning them here
        # keeps the histogram/window frame sized by the mixture spec
        hist = hist.filter(F.col("_tb_grp").isin(list(budgets)))

    cum = hist.withColumn(
        "_tb_cum",
        F.sum("_tb_tok").over(
            Window.partitionBy("_tb_grp").orderBy("_tb_bucket")
        ),
    )
    # cumsum is non-decreasing in bucket, so the qualifying set is a
    # prefix and its max IS the cutoff; an empty prefix → -1 (keep
    # nothing from that group)
    cuts = (
        cum.groupBy("_tb_grp")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("_tb_cum") <= budget_of, F.col("_tb_bucket"))),
                F.lit(-1),
            ).alias("_tb_cut")
        )
    )
    joined = df.join(F.broadcast(cuts), df[group_col] == cuts["_tb_grp"], "left")
    return joined.filter(
        cuts["_tb_cut"].isNull() | (bucket <= cuts["_tb_cut"])
    ).drop("_tb_grp", "_tb_cut")


def shuffle_for_training(
    df: DataFrame,
    key_col: str,
    seed: str = "",
    n_shards: int = 1024,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle for training order: assign every
    row a ``(shard, pos)`` coordinate that is a pure function of
    (key, seed) — shard = md5 bucket of the salted key, pos = rank of
    the key's md5 order-hash within its shard. Writing partitioned by
    ``shard`` and reading shards in pos order yields an i.i.d.-style
    permutation of the corpus; changing ``seed`` draws an independent
    permutation (new training epoch orders without rewriting data).

    Why not ``df.orderBy(F.rand(seed))``: rand is seeded per-PARTITION,
    so the permutation changes with cluster size, input split layout
    and task retries — a retried task silently reorders its rows — and
    a global orderBy needs a range-partitioning sampling pass plus a
    full sort of the corpus. This operator is ONE hash shuffle
    (repartition on shard) followed by a per-shard sort bounded by the
    shard's size (corpus/n_shards — pick n_shards so a shard fits an
    executor, e.g. 100 TB / 65536 ≈ 1.6 GB); no sampling pass, no
    global sort, and the coordinate survives any re-run bit-for-bit.
    Keys must be unique (pos ties break by key, so duplicate keys get
    arbitrary-but-stable relative order). md5 keeps the permutation
    reproducible from the SQL definition in any engine; swap the two
    substrings for ``xxhash64(key, lit(seed))`` variants at production
    scale for one JVM hash instead of a digest."""
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(key_col).cast("string")
    if seed:
        key = F.concat(key, F.lit(seed))
    h = F.md5(key)
    shard = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    order = F.conv(F.substring(h, 9, 15), 16, 10).cast("long")
    w = Window.partitionBy(shard_col).orderBy("_sft_ord", F.col(key_col))
    return (
        df.withColumn(shard_col, shard)
        .withColumn("_sft_ord", order)
        .repartition(n_shards, F.col(shard_col))
        .withColumn(pos_col, F.row_number().over(w).cast("long"))
        .drop("_sft_ord")
    )
