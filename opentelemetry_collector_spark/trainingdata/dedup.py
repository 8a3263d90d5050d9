"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (100 TB / billions of docs):
  * signatures (MinHash / SimHash / hyperplane bits) are computed
    shuffle-free in one projection over the scan;
  * candidate generation is a banded-LSH equi-join — the ONLY shuffle,
    keyed on (band_idx, band_key), never an O(n^2) cross join;
  * exact verification (Jaccard / cosine) runs only on bucket
    collisions, so the expensive set/vector math touches a tiny
    fraction of pairs;
  * all hashing is deterministic from fixed seeds, so re-runs and
    incremental appends produce identical clusters.

Hashing uses the arithmetic rolling hash from ``text.py`` (see its
docstring: swap for xxhash64 at production scale; kept arithmetic for
bit-identical DuckDB oracle parity).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    HASH_MOD,
    ensure_compute_parallelism,
    let_col,
    rolling_hash,
    tokens_col,
)

# ---------------------------------------------------------------------------
# deterministic hash-family / hyperplane constants (shared with oracles)
# ---------------------------------------------------------------------------

MINHASH_K = 3          # shingle width (tokens)
MINHASH_H = 16         # signature length
MINHASH_BANDS = 4      # 4 bands x 4 rows → s-curve threshold ~0.71
MINHASH_ROWS = MINHASH_H // MINHASH_BANDS

_rng = np.random.default_rng(161803)  # reference's golden seed (correctness_test.go:62)
MINHASH_A: list[int] = [int(x) for x in _rng.integers(1, HASH_MOD, MINHASH_H)]
MINHASH_B: list[int] = [int(x) for x in _rng.integers(0, HASH_MOD, MINHASH_H)]

SIMHASH_BITS = 32

N_HYPERPLANES = 8      # default: 8 sign bits → 256 ANN buckets
EMBED_DIM = 64
_HYPERPLANE_SEED = 271828
MAX_HYPERPLANES = 48   # signatures pack into a long; stay clear of 63

# default ceiling on one LSH band bucket's contribution to the
# candidate self-join (see _cap_hot_buckets): bounds the worst bucket
# at 10^6 pairs while leaving every healthy bucket — web-corpus band
# buckets hold a handful of docs — untouched. None disables the cap.
DEFAULT_HOT_BUCKET_LIMIT = 1000

# Default SimHash candidate layout: 6 blocks / C(6, 6-h) combination
# tables (see simhash_exploded_bands) — the scalable scheme; None
# selects the legacy single-band layout.
DEFAULT_SIMHASH_BLOCKS = 6

# SimHash gets a TIGHTER default bucket cap than MinHash: a MinHash
# band bucket means its members share a full band SIGNATURE (strong
# similarity evidence — capping trims true dup clusters, hence the
# generous 1000), but a SimHash bucket only means members share one
# 15-17-bit key slice of a 32-bit code — on low-entropy corpora
# (shared vocabulary biases the per-bit votes) such buckets fill with
# thousands of NON-near docs, and their n² candidate pairs are almost
# all hamming-rejects. Measured on the 10× bench corpus: cap 200 cut
# the uncapped 317M-candidate join to 18.5s from 191s with the same
# verified-pair recall behavior as minhash's cap (observable via
# cap_observation, tunable, None to disable).
DEFAULT_SIMHASH_BUCKET_LIMIT = 200


def make_hyperplanes(
    bits: int, dim: int = EMBED_DIM, seed: int = _HYPERPLANE_SEED
) -> list[list[float]]:
    """Seeded hyperplane family, NESTED by construction: the first k
    rows are identical for every bits >= k (the generator stream fills
    row-major), so raising ``bits`` only ever SPLITS buckets — a
    coarser signature's candidate set is a superset of a finer one's,
    and bucket counts can be tuned per corpus without re-clustering
    semantics changing shape."""
    if not 1 <= bits <= MAX_HYPERPLANES:
        raise ValueError(f"bits must be in [1, {MAX_HYPERPLANES}], got {bits}")
    return [
        [round(float(v), 6) for v in row]
        for row in np.random.default_rng(seed).standard_normal((bits, dim))
    ]


def hyperplane_bits_for(n_vectors: int, target_bucket_size: int = 1000) -> int:
    """Scale the signature width to the corpus: bits ≈ log2(n/target)
    keeps the EXPECTED bucket near ``target_bucket_size`` so the
    within-bucket self-join stays bounded as n grows (at 10^9 vectors
    and target 1000 → 20 bits / ~1M buckets; a fixed 8 bits would put
    ~4M vectors in every bucket and the join would explode)."""
    import math

    if n_vectors <= target_bucket_size:
        return 1
    return min(
        MAX_HYPERPLANES, max(1, math.ceil(math.log2(n_vectors / target_bucket_size)))
    )


HYPERPLANES: list[list[float]] = make_hyperplanes(N_HYPERPLANES)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_clusters(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by md5 of normalized text: one hash-groupBy; per
    cluster keep the lowest id. The survivor set is
    ``clusters.join(df, keep == id)`` — no second scan of text."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        ensure_compute_parallelism(df).withColumn("fp", F.md5(normalized))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_col(col: Column, k: int = MINHASH_K) -> Column:
    """Distinct k-token shingles; documents shorter than k tokens fall
    back to one whole-text shingle so they still get a signature.

    The token array is let-bound (``let_col``) so tokenization runs
    once per row — an outer-expression reference inside the window
    lambda would re-split the text at every shingle position."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        return F.array_distinct(
            F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return let_col(tokens_col(col), body)


def minhash_signature_from_shingles(
    sh: Column, h: int = MINHASH_H, hash_fn=None
) -> Column:
    """MinHash signature from a shingle array: ONE aggregate pass with
    an h-wide array accumulator — each shingle is hashed once and
    folded into all h minima via zip_with, so the per-char rolling
    hash is never duplicated per hash function (an h-way
    ``array_min(transform(...))`` formulation would inline — and
    recompute — the shingle hashing h times).

    ``hash_fn`` (string column → long in [0, HASH_MOD)) defaults to the
    DuckDB-reproducible rolling hash; pass ``text.production_hash``
    (xxhash64) at 100 TB — one JVM intrinsic instead of a per-char
    aggregate, same operator semantics."""
    hash_fn = hash_fn or rolling_hash
    ab = F.array(
        *[
            F.struct(
                F.lit(MINHASH_A[j]).alias("a"), F.lit(MINHASH_B[j]).alias("b")
            )
            for j in range(h)
        ]
    )
    init = F.array(*[F.lit(HASH_MOD).cast("long")] * h)
    bases = F.transform(sh, lambda s: hash_fn(s))  # each shingle hashed once
    return F.aggregate(
        bases,
        init,
        lambda acc, x: F.zip_with(
            acc, ab, lambda m, c: F.least(m, (c["a"] * x + c["b"]) % HASH_MOD)
        ),
    )


def minhash_signature(
    col: Column, k: int = MINHASH_K, h: int = MINHASH_H, hash_fn=None
) -> Column:
    """MinHash signature of a text column (see
    ``minhash_signature_from_shingles``)."""
    return minhash_signature_from_shingles(shingles_col(col, k), h, hash_fn)


def lsh_band_keys(sig: Column, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS) -> Column:
    """Split the signature into ``bands`` bands of ``rows`` values;
    band key = joined string of the band's values."""
    return F.array(
        *[
            F.concat_ws("-", *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)])
            for b in range(bands)
        ]
    )


def _signature_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hash_fn,
) -> DataFrame:
    """(id, sh, bands) signature table — the ONE staging path shared by
    batch ``minhash_lsh_pairs`` and the incremental ``minhash_index``:
    the incremental parity law (index ∪ batch collides exactly like a
    single batch run) requires the two to stay bit-identical, so they
    must not drift as separate copies.

    The shingle array is staged as a real column so the signature
    references it instead of re-deriving tokens/shingles per use
    (multi-referenced non-cheap expressions are not re-inlined by
    CollapseProject). The frame is lazy and never persisted: the band
    self-joins read it below the cap window's band-key exchange, which
    both join sides share, so the hashing runs once per query."""
    return (
        ensure_compute_parallelism(df).select(
            F.col(id_col).alias("id"),
            shingles_col(F.col(text_col)).alias("sh"),
        )
        .select(
            "id", "sh",
            minhash_signature_from_shingles(F.col("sh"), hash_fn=hash_fn).alias("sig"),
        )
        .select("id", "sh", lsh_band_keys(F.col("sig")).alias("bands"))
    )


def _band_rows(bands: Column) -> Column:
    """Generator of one (band_idx, band_key) row per element of a band
    array, for ``select``. The same rows as ``posexplode``, but as
    ``inline`` over a transformed array, which evaluates the array
    once per document: ``posexplode`` over the un-persisted band
    expression took 1.02–1.05 s at sf0.1 against 0.40 s for the array
    alone, and this form runs at the array's cost."""
    return F.inline(
        F.transform(
            bands, lambda k, i: F.struct(i.alias("band_idx"), k.alias("band_key"))
        )
    )


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact shingle-set Jaccard, rounded to the 6dp cross-engine
    convention the oracles assume."""
    return F.round(
        F.size(F.array_intersect(sh_a, sh_b)).cast("double")
        / F.size(F.array_union(sh_a, sh_b)).cast("double"),
        6,
    )


# row_number never reaches it, so an uncapped cap window drops nothing
_NO_CAP = 2**31 - 1


def _cap_hot_buckets(
    exploded: DataFrame,
    limit: int | None,
    key_cols: tuple[str, str] = ("band_idx", "band_key"),
    observation=None,
    observe_name: str = "hot_bucket_cap",
) -> DataFrame:
    """Bound a band bucket's contribution to the self-join at ``limit``
    members (the deterministic ``limit`` lowest ids win). A hot bucket
    — boilerplate near-identical docs all sharing one band key — makes
    the self-join quadratic in that bucket; capping makes the worst
    bucket cost limit² instead of size². Buckets at or under the limit
    are untouched, so results on a healthy corpus are unchanged; truly
    giant duplicate clusters should be collapsed by exact-dedup BEFORE
    LSH (the standard web-dedup pipeline order).

    The row_number window shuffles on the same key as the join itself,
    and it runs even when ``limit`` is None (its filter then drops
    nothing): its band-key exchange sits below both self-join sides'
    projections, so the two sides read one shared exchange and the
    signature frame under it is computed once. Without the window each
    side would exchange, and hash, on its own.

    Capping is NOT silent. Two observability modes:

    * default: a named ``observe`` AFTER the rank filter reports
      ``at_cap_buckets`` — the number of buckets whose survivor count
      hit the limit (every truly capped bucket fires it; a bucket with
      EXACTLY ``limit`` members is a borderline false positive). It
      sits above the Filter so Catalyst's partial WindowGroupLimit
      map-side pruning (asserted in test_plan_quality) stays intact.
    * an explicit ``pyspark.sql.Observation``: exact
      ``dropped_members`` / ``capped_buckets`` measured BEFORE the
      filter — the CollectMetrics node between Filter and Window
      disables the group-limit pushdown, so this is the diagnostic
      mode, not the default plan.

    Both counters read 0 when ``limit`` is None."""
    from pyspark.sql.window import Window

    limit = _NO_CAP if limit is None else limit
    w = Window.partitionBy(*key_cols).orderBy("id")
    ranked = exploded.withColumn("_rk", F.row_number().over(w))
    if observation is not None:
        ranked = ranked.observe(
            observation,
            F.coalesce(
                F.sum((F.col("_rk") > limit).cast("long")), F.lit(0).cast("long")
            ).alias("dropped_members"),
            F.coalesce(
                F.sum((F.col("_rk") == limit + 1).cast("long")),
                F.lit(0).cast("long"),
            ).alias("capped_buckets"),
        )
        return ranked.filter(F.col("_rk") <= limit).drop("_rk")
    return (
        ranked.filter(F.col("_rk") <= limit)
        .observe(
            observe_name,
            F.coalesce(
                F.sum((F.col("_rk") == limit).cast("long")), F.lit(0).cast("long")
            ).alias("at_cap_buckets"),
        )
        .drop("_rk")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float | None = None,
    hot_bucket_limit: int | None = DEFAULT_HOT_BUCKET_LIMIT,
    hash_fn=None,
    cap_observation=None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket
    (id_a < id_b), verified with exact shingle-set Jaccard computed
    only for bucket collisions.

    Shuffle layout (the part that matters at 10^9 docs): the band
    self-join moves only (id, band_idx, band_key) — never the shingle
    arrays — and both of its sides read the one band-key exchange of
    the cap window (see ``_cap_hot_buckets``), so the per-document
    hashing runs once and nothing is persisted. The verify joins the
    deduped pair list to the source's (id, text) once per side and
    shingles the two texts after the join: shingle arrays exist only
    for surviving pairs, never for the corpus, which at 100 TB could
    not be held without spilling it — writing AND re-reading the
    corpus anyway. On a real warehouse the band frame is the stored
    index (see ``minhash_index``)."""
    bands = _signature_frame(df, text_col, id_col, hash_fn).select(
        "id", _band_rows(F.col("bands"))
    )
    exploded = _cap_hot_buckets(
        bands,
        hot_bucket_limit,
        observation=cap_observation,
        observe_name="minhash_hot_bucket_cap",
    )
    left = exploded.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    right = exploded.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    pairs = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # aliased on the way in, so id_col="id" never hits
    # AMBIGUOUS_REFERENCE
    text = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    verified = (
        pairs.join(text.select(F.col("id").alias("id_a"), F.col("text").alias("text_a")), "id_a")
        .join(text.select(F.col("id").alias("id_b"), F.col("text").alias("text_b")), "id_b")
        .select(
            "id_a", "id_b",
            shingles_col(F.col("text_a")).alias("sh_a"),
            shingles_col(F.col("text_b")).alias("sh_b"),
        )
    )
    out = verified.select("id_a", "id_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= jaccard_threshold)
    return out


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a stored corpus index
# ---------------------------------------------------------------------------

def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """The two index tables a corpus stores ONCE so later ingests never
    re-hash it: ``bands`` = (id, band_idx, band_key) — the only thing
    the incremental candidate join ever shuffles (~24 B/row × bands) —
    and ``shingles`` = (id, sh) — fetched per SURVIVING candidate for
    the exact-Jaccard verify, never during candidate generation.

    On a real warehouse write ``bands`` bucketed BY (band_idx,
    band_key) and ``shingles`` bucketed by id: the incremental join
    then needs no shuffle on the index side at all (a bucketed scan
    co-locates with the new batch's exchange), which is what makes
    per-ingest dedup cost scale with the INGEST, not the corpus.
    Signature arithmetic is identical to ``minhash_lsh_pairs`` — the
    two share ``_signature_frame`` — so an index built yesterday
    collides with today's batch exactly as a single batch run would."""
    sigs = _signature_frame(df, text_col, id_col, hash_fn)
    bands = sigs.select("id", _band_rows(F.col("bands")))
    shingles = sigs.select("id", "sh")
    return bands, shingles


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float | None = None,
    hot_bucket_limit: int | None = DEFAULT_HOT_BUCKET_LIMIT,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs involving at least one NEW document — new-vs-
    corpus and new-vs-new — WITHOUT ever self-joining the corpus: the
    production ingest mode at 100 TB, where re-running batch LSH over
    the full corpus per ingest would re-shuffle petabytes to find
    collisions that can only involve the new documents anyway.

    Plan shape (the incremental property):

    1. the new batch's bands/shingles are computed exactly as
       ``minhash_lsh_pairs`` computes them (same seeds, same cap);
    2. the corpus index is LEFT-SEMI pruned to the band buckets the
       new batch actually touches — a pair with a new endpoint can
       only arise in such a bucket, so untouched buckets (virtually
       all of them) are never read past the semi-join, and with the
       bands table bucketed by band key the pruning is a co-located
       scan, not a shuffle;
    3. the hot-bucket cap ranks the COMBINED (pruned index ∪ new)
       bucket membership by lowest id — the batch path's exact rule
       over exactly the buckets where it can matter;
    4. candidates = capped NEW rows joined against all capped rows
       (old ∪ new) on (band_idx, band_key) — never old × old;
    5. shingles join back for surviving candidates only, from
       whichever side owns the id.

    Parity law (asserted in tests): output ==
    ``minhash_lsh_pairs(old ∪ new)`` filtered to pairs with ≥1 new
    endpoint. Requires new ids disjoint from index ids."""
    new_bands, new_shingles = minhash_index(
        new_df, text_col=text_col, id_col=id_col, hash_fn=hash_fn
    )
    tagged_new = new_bands.withColumn("_new", F.lit(True))
    touched = new_bands.select("band_idx", "band_key").dropDuplicates()
    relevant_index = index_bands.join(
        touched, ["band_idx", "band_key"], "left_semi"
    ).withColumn("_new", F.lit(False))
    # BOTH candidate-join sides read the capped combined frame, and
    # both read its `_new` tag, so the two sides' plans stay equal up
    # to the cap window and share its band-key exchange (with the
    # corpus prune and the union under it); the `_new` filter cannot
    # pass the window
    combined = _cap_hot_buckets(
        relevant_index.unionByName(tagged_new),
        hot_bucket_limit,
        observe_name="incremental_hot_bucket_cap",
    )
    new_side = combined.filter(F.col("_new")).select(
        F.col("id").alias("id_n"), "band_idx", "band_key"
    )
    all_side = combined.select(
        F.col("id").alias("id_o"), F.col("_new").alias("_new_o"), "band_idx", "band_key"
    )
    pairs = (
        new_side.join(all_side, ["band_idx", "band_key"])
        # a new-new pair is met from both ends: keep it from its lower
        # id (new ids are disjoint from index ids)
        .filter(~F.col("_new_o") | (F.col("id_n") < F.col("id_o")))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_tbl = index_shingles.unionByName(new_shingles)
    verified = (
        pairs.join(
            sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
    )
    out = verified.select("id_a", "id_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= jaccard_threshold)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(col: Column, bits: int = SIMHASH_BITS, hash_fn=None) -> Column:
    """Frequency-weighted SimHash over token rolling-hashes: bit b is 1
    iff sum over tokens of (+1 if hash bit b set else -1) is > 0.
    One token-hash array per row, ``bits`` codegen aggregates over it.
    ``hash_fn``: see ``minhash_signature_from_shingles``."""
    hash_fn = hash_fn or rolling_hash
    th = F.transform(tokens_col(col), lambda t: hash_fn(t))  # each token hashed once
    powers = F.array(*[F.lit(2 ** b).cast("long") for b in range(bits)])
    init = F.array(*[F.lit(0).cast("long")] * bits)
    # one pass: fold every token hash into all `bits` vote counters
    # (x & 2^b) extracts bit b — pure integer bitwise ops (hashes are
    # non-negative), no float division in the per-token inner loop
    votes = F.aggregate(
        th,
        init,
        lambda acc, x: F.zip_with(
            acc,
            powers,
            lambda c, p: c
            + F.when(x.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two SimHash values."""
    return F.bit_count(a.bitwiseXOR(b))


def _block_layout(bits: int, blocks: int) -> list[tuple[int, int]]:
    """(shift, width) of each of ``blocks`` contiguous bit blocks
    covering ``bits`` — widths differ by at most 1 (the wider blocks
    first), e.g. 32/6 → 6,6,5,5,5,5."""
    base, extra = divmod(bits, blocks)
    out = []
    shift = 0
    for b in range(blocks):
        w = base + (1 if b < extra else 0)
        out.append((shift, w))
        shift += w
    return out


def _block_combos(blocks: int, group: int) -> list[tuple[int, ...]]:
    from itertools import combinations

    return list(combinations(range(blocks), group))


def simhash_exploded_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    hash_fn=None,
    blocks: int | None = DEFAULT_SIMHASH_BLOCKS,
    max_hamming: int = 3,
) -> DataFrame:
    """UNCAPPED (id, sh, band_idx, band_key) band frame that
    ``simhash_lsh_pairs`` caps and self-joins. Its band 0 carries one
    (id, sh) row per document, so a per-document code consumer can
    filter ``band_idx = 0``; codes must come from THIS frame, never a
    capped one: the hot-bucket cap drops (id, band) rows, so a capped
    frame can lose a document's band 0 entirely.

    Two candidate layouts, both with EXACT recall for hamming ≤
    ``max_hamming`` (pigeonhole):

    * ``blocks=None`` (legacy): ``bands`` single-band tables, key =
      one band of bits/bands bits. With 32-bit codes and 4 bands the
      key space is 2^8 = 256 — the candidate join grows as n²/256,
      which round 5's sf1 bench exposed as a 270× blowup at 10× data.
    * ``blocks=B``: the Manku/Jain/Sarma (WWW'07) combinatorial block
      scheme — ``B`` contiguous blocks; a pair within hamming ≤ h has
      ≥ B−h blocks untouched, so candidates are keyed on every
      C(B, B−h) combination of B−h blocks CONCATENATED. band_idx =
      combination index, band_key = concatenated block bits. B=6,
      h=3 on 32-bit codes: 20 tables with 15–17-bit keys — ~250×
      more key space per table than legacy for 5× the exploded rows,
      turning the n² bucket term into collisions-only at web scale."""
    sh = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), bits, hash_fn=hash_fn).alias("sh"),
    )
    if blocks is None:
        width = bits // bands
        mask = (1 << width) - 1
        band_cols = [
            F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    else:
        group = blocks - max_hamming
        if group < 1:
            raise ValueError(
                f"combinatorial scheme needs blocks > max_hamming "
                f"(got blocks={blocks}, max_hamming={max_hamming})"
            )
        layout = _block_layout(bits, blocks)
        band_cols = []
        for combo in _block_combos(blocks, group):
            key_col = F.lit(0).cast("long")
            for bi in combo:
                shift, w = layout[bi]
                part = F.shiftright(F.col("sh"), shift).bitwiseAND(
                    F.lit((1 << w) - 1)
                )
                key_col = F.shiftleft(key_col, w).bitwiseOR(part)
            band_cols.append(key_col)
    return sh.select("id", "sh", _band_rows(F.array(*band_cols)))


def simhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
    hot_bucket_limit: int | None = DEFAULT_SIMHASH_BUCKET_LIMIT,
    hash_fn=None,
    cap_observation=None,
    blocks: int | None = DEFAULT_SIMHASH_BLOCKS,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming, EXACT recall
    by pigeonhole, via the candidate layouts of
    ``simhash_exploded_bands``: the default ``blocks=6`` combinatorial
    scheme keys candidates on C(blocks, blocks−max_hamming)
    concatenated block combinations (Manku/Jain/Sarma WWW'07 — wide
    keys, so candidate volume stays collision-bound as the corpus
    grows); ``blocks=None`` falls back to the single-band layout
    (``bands`` tables of bits/bands-bit keys — key space 2^8 at the
    32/4 default, whose n²/256 candidate join the sf1 bench exposed).
    Exact hamming verifies every candidate either way, so both layouts
    return identical pairs. The band equi-join's exchange is the cap
    window's, shared by both join sides (see ``_cap_hot_buckets``), so
    the per-token simhash computes once without a persist; pairs are
    filtered on hamming before they are deduplicated."""
    if blocks is None and max_hamming > bands - 1:
        raise ValueError(
            f"banded recall guarantee needs max_hamming <= bands-1 "
            f"(got {max_hamming} > {bands - 1})"
        )
    exploded = _cap_hot_buckets(
        simhash_exploded_bands(
            df, text_col=text_col, id_col=id_col, bits=bits, bands=bands,
            hash_fn=hash_fn, blocks=blocks, max_hamming=max_hamming,
        ),
        hot_bucket_limit,
        observation=cap_observation,
        observe_name="simhash_hot_bucket_cap",
    )
    left = exploded.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band_idx", "band_key"
    )
    right = exploded.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band_idx", "band_key"
    )
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            hamming_distance(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
    k: int = MINHASH_K,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs above a threshold. Candidates are
    blocked by ``block_col`` (e.g. source) when given — at scale use
    ``minhash_lsh_pairs(jaccard_threshold=...)`` instead; the
    all-pairs path here exists for verification on small blocks."""
    sh = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        shingles_col(F.col(text_col), k).alias("sh"),
    )
    a = sh.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        *( [F.col("blk")] if block_col else [] ),
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        *( [F.col("blk")] if block_col else [] ),
    )
    joined = a.join(b, "blk") if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# chunk-level exact substring dedup (boilerplate detection)
# ---------------------------------------------------------------------------

CHUNK_WIDTH = 10  # tokens per chunk; Lee et al. use 50-token windows


def overlap_report(
    exploded: DataFrame,
    match: DataFrame,
    join_key: str,
    id_col: str,
    total_col: str,
    hit_name: str,
    ratio_name: str,
) -> DataFrame:
    """Shared per-document overlap tail used by ``chunk_dedup_stats``
    and ``decontam.contamination``: join an exploded (id, total, key)
    frame against a key set, count hits per document, and report the
    6dp-rounded hit ratio (the cross-engine float convention every
    driver oracle assumes). Map-side partial aggregation collapses the
    join output to at most one row per matching document before the
    only id-keyed exchange."""
    return (
        exploded.join(match, join_key)
        .groupBy(id_col, total_col)
        .agg(F.count(F.lit(1)).alias(hit_name))
        .select(
            id_col,
            total_col,
            hit_name,
            F.round(
                F.col(hit_name).cast("double") / F.col(total_col).cast("double"),
                6,
            ).alias(ratio_name),
        )
    )


def chunk_hash_col(col: Column, width: int = CHUNK_WIDTH) -> Column:
    """Positional md5 hashes of NON-OVERLAPPING ``width``-token chunks
    (trailing partial chunk dropped — a 1-token tail would collide on
    common words and flood the dup set with noise). Documents shorter
    than ``width`` tokens yield an empty array. md5 (not xxhash64) so
    the chunk identity is engine-portable, same rationale as
    ``split_bucket``; the array is positional, not distinct — a chunk
    repeated WITHIN one document counts each occurrence."""
    def body(toks: Column) -> Column:
        n_full = F.floor(F.size(toks) / width).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * width + 1, width))),
        )
        return F.when(n_full >= 1, chunks).otherwise(
            F.array().cast("array<string>")
        )

    # let-bound: tokenizing inside the chunk lambda would re-split the
    # text once per chunk position (see text.let_col)
    return let_col(tokens_col(col), body)


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = CHUNK_WIDTH,
    min_docs: int = 2,
) -> DataFrame:
    """Exact SUBSTRING-level dedup (the Lee-et-al. "Deduplicating
    Training Data" observation: most duplication is passages repeated
    across otherwise-distinct pages — boilerplate, licenses, quoted
    spans — which whole-document dedup never sees). A chunk is
    *boilerplate* when it appears in ≥ ``min_docs`` distinct
    documents; per document with at least one such chunk, return
    ``(id, n_chunks, dup_chunks, dup_fraction)`` — downstream, filter
    on ``dup_fraction`` or cut the flagged spans.

    Plan at 100 TB: chunks cross the wire as 32-char md5 hashes, never
    text. One exchange on chunk hash feeds BOTH the boilerplate
    grouping and the per-doc join (same key — Spark reuses the
    exchange under AQE); the final groupBy(id) exchange carries at
    most one partially-aggregated row per affected document because a
    document's chunks are co-partitioned in its input split."""
    ch = ensure_compute_parallelism(df).select(
        F.col(id_col),
        chunk_hash_col(F.col(text_col), width).alias("chs"),
    ).select(
        id_col,
        F.size("chs").cast("long").alias("n_chunks"),
        F.explode("chs").alias("h"),
    )
    boiler = (
        ch.groupBy("h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    return overlap_report(
        ch, boiler, "h", id_col, "n_chunks", "dup_chunks", "dup_fraction"
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    use_lsh: bool = True,
    n_bits: int | str | None = "auto",
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine ≥ threshold.
    use_lsh: candidates = same random-hyperplane sign bucket (the
    scale path — bucket equi-join, cosine only on collisions);
    otherwise all pairs (verification path).

    ``n_bits`` sizes the signature to the corpus (nested family, see
    ``make_hyperplanes``). The DEFAULT ``"auto"`` counts the input
    (one cheap aggregate job at plan-build time) and takes
    ``hyperplane_bits_for(n)`` — ~20 bits at 10^9 vectors so the
    expected bucket stays ~1000 and the within-bucket join is bounded;
    fewer bits on a small corpus only ADD candidate pairs (nested
    family: coarser signature ⊇ finer's buckets), so the verified
    result set is unchanged. Pass an int to pin the width, or None for
    the module default (8 bits, right only for ≤~10^6 vectors). More
    bits trade recall for cost — recover recall with a second table
    (different seed) unioned before the cosine verify."""
    from .similarity import hyperplane_signature

    if n_bits == "auto":
        n_bits = hyperplane_bits_for(df.count())
    df = ensure_compute_parallelism(df)
    planes = make_hyperplanes(n_bits) if n_bits is not None else None
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cos = F.round(
        _dot(F.col("v_a"), F.col("v_b")) / (F.col("norm_a") * F.col("norm_b")), 6
    )
    if use_lsh:
        # shuffle layout (same pattern as minhash_lsh_pairs): the
        # bucket self-join moves only (id, bucket) — the ~0.5 KB/row
        # vector payloads never cross the candidate exchange; vectors
        # join back AFTER the candidate ids are known, touching
        # exactly the surviving pairs (round-3 verdict item 3)
        keys = df.select(
            F.col(id_col).alias("id"),
            hyperplane_signature(v, planes).alias("bucket"),
        )
        pairs = (
            keys.select(F.col("id").alias("id_a"), "bucket")
            .join(keys.select(F.col("id").alias("id_b"), "bucket"), "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        vecs = df.select(
            F.col(id_col).alias("id"),
            v.alias("v"),
            F.sqrt(_dot(v, v)).alias("norm"),
        )
        joined = pairs.join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("v_a"),
                F.col("norm").alias("norm_a"),
            ),
            "id_a",
        ).join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("v_b"),
                F.col("norm").alias("norm_b"),
            ),
            "id_b",
        )
        return joined.select("id_a", "id_b", cos.alias("cosine")).filter(
            F.col("cosine") >= threshold
        )
    base = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("norm"),
    )
    a = base.select(*[F.col(c).alias(c + "_a") for c in base.columns])
    b = base.select(*[F.col(c).alias(c + "_b") for c in base.columns])
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
