"""Driver-contract queries for the training-data operator family.

Every Spark query runs the REAL operators from
``opentelemetry_collector_spark.trainingdata``; each oracle is
generated DuckDB SQL computing the same result from the same parquet
tables. Cross-engine determinism rests on:

  * the arithmetic rolling hash (identical integer ops both sides);
  * fixed literal MinHash coefficients / hyperplanes baked into the
    generated SQL from the same Python constants;
  * sequential (list_reduce / F.aggregate) float summation so doubles
    are bit-identical before rounding;
  * integer projections where float ties would be fragile (media
    histogram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from ..trainingdata import (
    ann_lsh_topk,
    brute_force_topk,
    doc_fingerprint,
    embedding_near_dup_pairs,
    extract_features,
    lang_id,
    minhash_lsh_pairs,
    minhash_index,
    minhash_lsh_pairs_incremental,
    ngram_jaccard_pairs,
    quality_score,
    synthesize_media,
)
from ..trainingdata.dedup import (
    DEFAULT_HOT_BUCKET_LIMIT,
    HYPERPLANES,
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_H,
    MINHASH_K,
    MINHASH_ROWS,
    SIMHASH_BITS,
)
from ..trainingdata.text import HASH_BASE, HASH_MOD, STOPWORDS, LANG_ORDER


from .shared_sql import _register  # noqa: E402


# ---------------------------------------------------------------------------
# generated-SQL building blocks (DuckDB dialect)
# ---------------------------------------------------------------------------

def _sql_rolling(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {HASH_BASE} + b) % {HASH_MOD})"
    )


_SQL_TOKS = "string_split_regex(lower(trim(text)), ' +')"

_SQL_SHINGLES = f"""
list_distinct(CASE WHEN len({_SQL_TOKS}) >= {MINHASH_K}
  THEN list_transform(generate_series(1, len({_SQL_TOKS}) - {MINHASH_K - 1}),
                      i -> array_to_string(list_slice({_SQL_TOKS}, i, i + {MINHASH_K - 1}), ' '))
  ELSE [array_to_string({_SQL_TOKS}, ' ')] END)
"""


def _sql_list(vals) -> str:
    return "[" + ", ".join(str(v) for v in vals) + "]"


def _sql_minhash_sig() -> str:
    a, b = _sql_list(MINHASH_A), _sql_list(MINHASH_B)
    return (
        f"list_transform(generate_series(0, {MINHASH_H - 1}), "
        f"j -> list_min(list_transform(bases, h -> (({a})[j+1] * h + ({b})[j+1]) % {HASH_MOD})))"
    )


def _sql_seq_sum(products: str) -> str:
    """Sequential double sum (same order as F.aggregate)."""
    return f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {products}), (a, b) -> a + b)"


def _sql_dot(u: str, v: str, dim_expr: str) -> str:
    return _sql_seq_sum(
        f"list_transform(generate_series(1, {dim_expr}), i -> CAST(({u})[i] AS DOUBLE) * CAST(({v})[i] AS DOUBLE))"
    )


def _sql_hyperplane_bucket(vec: str, planes=None) -> str:
    terms = []
    for p, plane in enumerate(planes if planes is not None else HYPERPLANES):
        plane_sql = "[" + ", ".join(f"CAST({w} AS DOUBLE)" for w in plane) + "]"
        dot = _sql_dot(vec, plane_sql, f"len({vec})")
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2 ** p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------

def q_td_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return minhash_lsh_pairs(spark.table("documents")).select(
        "id_a", "id_b", "jaccard"
    )


def _sql_minhash_pair_ctes() -> str:
    """CTE chain ending in ``scored_pairs(id_a, id_b, jaccard)`` —
    shared by the pair oracle and the connected-components oracle so
    both grade the exact same candidate set."""
    band_keys = (
        f"list_transform(generate_series(0, {MINHASH_BANDS - 1}), "
        f"b -> array_to_string(list_transform("
        f"list_slice(sig, b * {MINHASH_ROWS} + 1, b * {MINHASH_ROWS} + {MINHASH_ROWS}), "
        f"x -> CAST(x AS VARCHAR)), '-'))"
    )
    return f"""base AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
), hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_sql_rolling('s')}) AS bases FROM base
), sigs AS (
  SELECT doc_id, sh, {_sql_minhash_sig()} AS sig FROM hashed
), banded AS (
  SELECT doc_id, sh, {band_keys} AS bands FROM sigs
), exploded AS (
  -- mirrors _cap_hot_buckets (ON by default): the `limit` lowest ids
  -- win per band bucket, so the oracle diverges loudly the moment the
  -- cap actually drops members instead of staying green by accident
  SELECT doc_id, sh, u.b AS band_idx, bands[u.b + 1] AS band_key
  FROM banded CROSS JOIN (SELECT unnest(generate_series(0, {MINHASH_BANDS - 1})) AS b) u
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_key ORDER BY doc_id)
          <= {DEFAULT_HOT_BUCKET_LIMIT}
), pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sh AS sh_a, r.sh AS sh_b
  FROM exploded l JOIN exploded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
), scored_pairs AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE), 6) AS jaccard
  FROM pairs
)"""


def _oracle_td_minhash_lsh_pairs() -> str:
    return (
        f"WITH {_sql_minhash_pair_ctes()}\n"
        "SELECT id_a, id_b, jaccard FROM scored_pairs"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def q_td_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash matrix — the former ``td_simhash`` (per-doc codes) and
    ``td_simhash_near_dup`` (banded near-dup pairs) rows consolidated
    under the 50-row driver budget, both value-exact:

    * ``metric='code'``: per-document 32-bit SimHash
      (id_a = doc_id, id_b NULL, value = code);
    * ``metric='pair'``: near-dup pairs at hamming ≤ 3 via the
      Manku/Jain/Sarma combinatorial block layout (6 blocks, C(6,3)=20
      concatenated-block tables with 15–17-bit keys) — exact recall by
      pigeonhole (value = hamming), and the wide keys keep the
      candidate join collision-bound as the corpus grows (the legacy
      4×8-bit single-band layout's n²/256 join blew up 270× on the
      round-5 sf1 leg). Runs uncapped (hot_bucket_limit=None) because
      this row's oracle is the brute-force pairwise hamming; the
      capped default path is oracled by td_minhash_lsh_pairs, whose
      SQL mirrors the cap.
    """
    from ..trainingdata import simhash, simhash_lsh_pairs
    from ..trainingdata.text import ensure_compute_parallelism

    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    # computed straight from the text: the pair branch's band frame is
    # 20 rows per doc, and filtering it to band 0 costs more than a
    # second simhash pass (both branches share the scan's round-robin
    # exchange)
    codes = ensure_compute_parallelism(d).select(
        F.lit("code").alias("metric"),
        F.col("doc_id").cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        simhash(F.col("text")).cast("long").alias("value"),
    )
    pairs = simhash_lsh_pairs(d, max_hamming=3, hot_bucket_limit=None).select(
        F.lit("pair").alias("metric"),
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("hamming").cast("long").alias("value"),
    )
    return codes.unionByName(pairs)


def _oracle_td_simhash() -> str:
    # pair half: brute-force pairwise hamming over the simhash values
    # (banding is an exact-recall optimization for hamming<=bands-1,
    # so the brute force is the semantic definition)
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH th_t AS (
  SELECT doc_id, list_transform({_SQL_TOKS}, t -> {_sql_rolling('t')}) AS th
  FROM documents
), sh AS (
  SELECT doc_id, CAST({bit_terms} AS BIGINT) AS s FROM th_t
)
SELECT 'code' AS metric, CAST(doc_id AS BIGINT) AS id_a,
       CAST(NULL AS BIGINT) AS id_b, s AS value
FROM sh
UNION ALL
SELECT 'pair' AS metric, CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS value
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
"""


def q_td_salted_conv_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted two-stage per-conversation turn counts over
    the derived transcripts — result identical to a plain groupBy, but
    no reducer ever sees a whole hot conversation."""
    from .shared_sql import _derive_transcripts
    from .pipeline import salted_two_stage_agg

    t = _derive_transcripts(spark, sf_dir)
    return salted_two_stage_agg(t, buckets=8)


def _oracle_td_salted_conv_counts() -> str:
    from .shared_sql import _TRANSCRIPTS_FROM_EVENTS

    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS})
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
FROM t GROUP BY 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked by source)
# ---------------------------------------------------------------------------

def q_td_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        spark.table("documents"), block_col="source", threshold=0.5
    )


def _oracle_td_ngram_jaccard() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source, {_SQL_SHINGLES} AS sh FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jaccard
FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) >= 0.5
"""


# ---------------------------------------------------------------------------
# embedding near-dup + similarity search
# ---------------------------------------------------------------------------

def q_td_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        spark.table("embeddings"), threshold=0.3, use_lsh=True
    )


def td_embed_near_dup_oracle_sql(sf_dir: str | None = None) -> str:
    """The Spark side auto-sizes the signature to the corpus
    (embedding_near_dup_pairs n_bits="auto"); mirror it from the parquet
    footer row count of ``sf_dir``, default $SPARK_GRAFT_SF_DIR read
    when called (the murmur3 keep-set's pattern), so the oracle follows
    the scale factor the comparison runs at."""
    import os

    import pyarrow.parquet as pq

    from ..trainingdata.dedup import hyperplane_bits_for, make_hyperplanes

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    planes = make_hyperplanes(hyperplane_bits_for(n))
    dot_ab = _sql_dot("a.v", "b.v", "len(a.v)")
    return f"""
WITH base AS (
  SELECT vec_id, embedding AS v,
         sqrt({_sql_dot('embedding', 'embedding', 'len(embedding)')}) AS nrm,
         {_sql_hyperplane_bucket('embedding', planes)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot_ab} / (a.nrm * b.nrm), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({dot_ab} / (a.nrm * b.nrm), 6) >= 0.3
"""


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def q_td_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-search matrix — the former ``td_cosine_topk``
    (brute-force exact baseline) and ``td_ann_topk`` (hyperplane-LSH
    bucketed, Hamming-radius-1 probes) rows consolidated under the
    50-row driver budget. Both methods return their own top-10 by
    cosine against the vec_id=0 query vector, tagged by ``method`` —
    the brute row is the ground truth the ANN row is graded against,
    so keeping both value-exact in ONE driver row preserves exactly
    the evidence two rows carried."""
    _register(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    e = spark.table("embeddings")
    brute = brute_force_topk(e, q, k=10).select(
        F.lit("brute").alias("method"), "vec_id", "cosine"
    )
    ann = ann_lsh_topk(e, q, k=10, hamming_radius=1).select(
        F.lit("ann").alias("method"), "vec_id", "cosine"
    )
    return brute.unionByName(ann)


def _oracle_td_topk() -> str:
    cos = (
        f"round({_sql_dot('e.embedding', 'q.v', 'len(e.embedding)')} / "
        f"(sqrt({_sql_dot('e.embedding', 'e.embedding', 'len(e.embedding)')}) * "
        f"sqrt({_sql_dot('q.v', 'q.v', 'len(q.v)')})), 6)"
    )
    return f"""
WITH q AS (
  SELECT embedding AS v, {_sql_hyperplane_bucket('embedding')} AS qb
  FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, e.embedding, q.v, q.qb,
         {_sql_hyperplane_bucket('e.embedding')} AS eb
  FROM embeddings e CROSS JOIN q
)
(SELECT 'brute' AS method, e.vec_id, {cos} AS cosine
 FROM embeddings e CROSS JOIN q
 ORDER BY cosine DESC, e.vec_id
 LIMIT 10)
UNION ALL
(SELECT 'ann' AS method, e.vec_id, {cos} AS cosine
 FROM cand e CROSS JOIN q
 WHERE bit_count(xor(e.eb, e.qb)) <= 1
 ORDER BY cosine DESC, e.vec_id
 LIMIT 10)
"""


# ---------------------------------------------------------------------------
# incremental MinHash dedup against a persisted corpus index
# ---------------------------------------------------------------------------

_INCR_NEW_MOD = 7  # doc_id % 7 == 0 plays the "new ingest" batch


def q_td_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: documents with doc_id % 7 != 0 are
    the already-indexed corpus (``minhash_index`` — built once, never
    re-hashed), doc_id % 7 == 0 is the arriving batch. The result is
    every near-dup pair with at least one NEW endpoint, found without
    self-joining the corpus: the index is semi-join-pruned to the band
    buckets the batch touches before any pair is generated. The
    parity law (== batch LSH over old∪new, filtered to ≥1 new
    endpoint) is what the oracle checks, since the oracle computes
    the batch form."""
    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    old = d.filter(F.col("doc_id") % _INCR_NEW_MOD != 0)
    new = d.filter(F.col("doc_id") % _INCR_NEW_MOD == 0)
    bands, shingles = minhash_index(old)
    return minhash_lsh_pairs_incremental(new, bands, shingles).select(
        "id_a", "id_b", "jaccard"
    )


def _oracle_td_incremental_dedup() -> str:
    return (
        f"WITH {_sql_minhash_pair_ctes()}\n"
        "SELECT id_a, id_b, jaccard FROM scored_pairs\n"
        f"WHERE id_a % {_INCR_NEW_MOD} = 0 OR id_b % {_INCR_NEW_MOD} = 0"
    )


# ---------------------------------------------------------------------------
# language-ID + quality
# ---------------------------------------------------------------------------

def _oracle_td_lang_quality() -> str:
    score_exprs = {
        lang: (
            f"len(list_intersect(list_distinct({_SQL_TOKS}), "
            + "["
            + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
            + "]))"
        )
        for lang in LANG_ORDER
    }
    greatest = "greatest(" + ", ".join(score_exprs[lang] for lang in LANG_ORDER) + ")"
    case = "CASE"
    for lang in LANG_ORDER:
        case += f" WHEN {score_exprs[lang]} = {greatest} THEN '{lang}'"
    case += " END"
    pred = f"CASE WHEN {greatest} > 0 THEN ({case}) ELSE 'und' END"
    en_stop = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    n_toks = f"CAST(len({_SQL_TOKS}) AS DOUBLE)"
    stop_ratio = (
        f"CAST(len(list_filter({_SQL_TOKS}, t -> list_contains({en_stop}, t))) AS DOUBLE) / {n_toks}"
    )
    punct_ratio = (
        "CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) "
        "/ CAST(length(text) AS DOUBLE)"
    )
    score = (
        f"round(0.4 * least({n_toks} / 64.0, 1.0) "
        f"+ 0.4 * least(({stop_ratio}) * 4.0, 1.0) "
        f"+ 0.2 * (1.0 - least(({punct_ratio}) * 10.0, 1.0)), 6)"
    )
    return f"SELECT doc_id, {pred} AS pred_lang, {score} AS quality FROM documents"


# ---------------------------------------------------------------------------
# fingerprint
# ---------------------------------------------------------------------------

def q_td_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-document scalar text signals in ONE scan: predicted
    language, quality score, and the rolling-hash fingerprint. This
    row consolidates the former td_lang_quality and td_fingerprint
    queries (same table, same projection shape) to hold the driver's
    50-row correctness budget — both operators stay driver-verified
    here, value-exact."""
    _register(spark, sf_dir, "documents")
    return spark.table("documents").select(
        "doc_id",
        lang_id(F.col("text")).alias("pred_lang"),
        quality_score(F.col("text")).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def _oracle_td_doc_signals() -> str:
    lq = _oracle_td_lang_quality().strip()
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    # graft the fingerprint column onto the lang+quality projection
    assert lq.upper().startswith("SELECT ")
    head, from_tail = lq.rsplit(" FROM ", 1)
    return f"{head}, {_sql_rolling(norm)} AS fingerprint FROM {from_tail}"


# ---------------------------------------------------------------------------
# multimodal (integer projection of the byte-histogram features)
# ---------------------------------------------------------------------------

def q_td_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media plumbing end-to-end: synthesize binary payloads from the
    documents table, run the Arrow mapInPandas feature extractor, and
    project integer-exact columns (top histogram bin + its count) for
    the cross-engine check."""
    _register(spark, sf_dir, "documents")
    media = synthesize_media(spark.table("documents"))
    feats = extract_features(media)
    # argmax bin (lowest index wins ties) from the normalized histogram
    top = F.array_position(
        F.col("features"), F.array_max(F.col("features"))
    ).cast("long") - 1
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        top.alias("top_bin"),
    )


def _oracle_td_media_features() -> str:
    # payload = UTF-8 text bytes; text is ASCII so byte == ascii(char)
    counts = (
        "list_transform(generate_series(0, 15), "
        "b -> len(list_filter(list_transform(string_split(text, ''), c -> ascii(c) % 16), "
        "x -> x = b)))"
    )
    return f"""
WITH hist AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         CAST(length(text) AS BIGINT) AS n_bytes,
         {counts} AS cnts
  FROM documents
)
SELECT media_id, kind, n_bytes,
       CAST(list_position(cnts, list_max(cnts)) - 1 AS BIGINT) AS top_bin
FROM hist
"""


def q_td_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode end-to-end: synthesize BMP (24-bpp BI_RGB),
    PNG (zlib-deflated, mixed row filters — a genuinely COMPRESSED
    format) and WAV (RIFF PCM16) payloads with closed-form content
    from the documents ids, decode them with the header-parsing numpy
    codecs (multimodal.decode_bmp/decode_png/decode_wav), and
    aggregate integer-exact unit counts + sums per media for the
    cross-engine check (the oracle computes the same sums from the
    closed form, no decoder needed — the PNG rows only match if
    inflate + all five filter reversals are exact)."""
    from ..trainingdata.multimodal import decode_media, synthesize_coded_media

    _register(spark, sf_dir, "documents")
    media = synthesize_coded_media(spark.table("documents"))
    bmp = decode_media(media.filter(F.col("kind") == "image"), codec="bmp")
    png = decode_media(media.filter(F.col("kind") == "image_png"), codec="png")
    wav = decode_media(media.filter(F.col("kind") == "audio"), codec="wav")
    decoded = bmp.unionByName(png).unionByName(wav)
    return decoded.select(
        "media_id",
        "kind",
        F.size("pixels").cast("long").alias("n_units"),
        F.aggregate(
            "pixels", F.lit(0.0), lambda acc, x: acc + x
        ).cast("long").alias("unit_sum"),
    )


def _oracle_td_media_decode() -> str:
    # same closed forms as synthesize_coded_media: BMP gray[r,c] =
    # (id*31 + r*7 + c*13) % 256 over h=id%9+3 rows × w=id%13+4 cols;
    # WAV s[i] = (id*7 + i*11) % 65536 − 32768 over n=id%50+10
    bmp_sum = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), flatten("
        "list_transform(generate_series(0, doc_id % 9 + 2), r -> "
        "list_transform(generate_series(0, doc_id % 13 + 3), c -> "
        "(doc_id * 31 + r * 7 + c * 13) % 256)))), (a, b) -> a + b)"
    )
    wav_sum = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(0, doc_id % 50 + 9), i -> "
        "(doc_id * 7 + i * 11) % 65536 - 32768)), (a, b) -> a + b)"
    )
    return f"""
SELECT doc_id AS media_id, 'image' AS kind,
       CAST((doc_id % 9 + 3) * (doc_id % 13 + 4) AS BIGINT) AS n_units,
       CAST({bmp_sum} AS BIGINT) AS unit_sum
FROM documents
UNION ALL
SELECT doc_id AS media_id, 'image_png' AS kind,
       CAST((doc_id % 9 + 3) * (doc_id % 13 + 4) AS BIGINT) AS n_units,
       CAST({bmp_sum} AS BIGINT) AS unit_sum
FROM documents
UNION ALL
SELECT doc_id AS media_id, 'audio' AS kind,
       CAST(doc_id % 50 + 10 AS BIGINT) AS n_units,
       CAST({wav_sum} AS BIGINT) AS unit_sum
FROM documents
"""


def q_td_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (trainingdata.assign_split):
    md5-keyed bucket in [0,10000) → contiguous cumulative ranges, so
    the assignment is a pure function of doc_id — identical across
    engines, sessions, seeds, row orders and hardware (the property
    that keeps eval data out of training across re-runs). The oracle
    recomputes the same md5 arithmetic in DuckDB; count + sum(doc_id)
    + bucket range per split pin both the assignment and the
    boundaries."""
    from ..trainingdata import assign_split, split_bucket

    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    key = F.col("doc_id")
    return (
        d.select(
            assign_split(key, {"train": 0.8, "val": 0.1, "test": 0.1}).alias("split"),
            "doc_id",
            split_bucket(key).alias("bucket"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_id"),
            F.min("bucket").alias("min_bucket"),
            F.max("bucket").alias("max_bucket"),
        )
    )


def _oracle_td_split_assign() -> str:
    return """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 10000 AS bucket
  FROM documents
), s AS (
  SELECT doc_id, bucket,
         CASE WHEN bucket >= 9000 THEN 'test'
              WHEN bucket >= 8000 THEN 'val'
              ELSE 'train' END AS split
  FROM b
)
SELECT split, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(min(bucket) AS BIGINT) AS min_bucket,
       CAST(max(bucket) AS BIGINT) AS max_bucket
FROM s
GROUP BY 1
"""


def q_td_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: MinHash-LSH pairs at jaccard ≥ 0.7
    → connected components (alternating large-star/small-star,
    trainingdata.components) → per-component membership stats. This is
    the step that turns transitive pair collisions (A~B, B~C) into ONE
    dedup cluster; component = min doc_id, the deterministic survivor
    key. The oracle recomputes the identical pair set (shared CTE
    chain) and resolves components via a recursive transitive-closure
    CTE — exact at sf scale, verification-only (the closure is O(n^2)
    per component; the Spark side is the O(log^2 n) star algorithm)."""
    from ..trainingdata import connected_components

    _register(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark.table("documents"), jaccard_threshold=0.7)
    comps = connected_components(pairs)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("node").alias("sum_members"),
        F.max("node").alias("max_member"),
    )


def _oracle_td_dup_components() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_pair_ctes()},
thr AS (
  SELECT id_a, id_b FROM scored_pairs WHERE jaccard >= 0.7
), e AS (
  SELECT id_a AS u, id_b AS v FROM thr
  UNION
  SELECT id_b, id_a FROM thr
), reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
), comp AS (
  SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
)
SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(node) AS BIGINT) AS sum_members,
       CAST(max(node) AS BIGINT) AS max_member
FROM comp GROUP BY component
"""


_STRAT_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.1, "zh": 0.75}
_STRAT_SALT = "|curation-v1"


def q_td_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language
    (trainingdata.stratified_sample): per-stratum md5-bucket
    thresholds, salted so the sample decorrelates from assign_split's
    buckets on the same key. 'es' is deliberately absent from the
    fractions → dropped, pinning the fraction-0 default. Membership is
    a pure function of (doc_id, salt), so the oracle reproduces the
    exact kept set, not just its size distribution."""
    from ..trainingdata import stratified_sample

    _register(spark, sf_dir, "documents")
    kept = stratified_sample(
        spark.table("documents"),
        _STRAT_FRACTIONS,
        strata_col="lang",
        key_col="doc_id",
        salt=_STRAT_SALT,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_id"),
    )


def _oracle_td_stratified_sample() -> str:
    case = " ".join(
        f"WHEN '{lang}' THEN {int(round(frac * 10000))}"
        for lang, frac in _STRAT_FRACTIONS.items()
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_STRAT_SALT}'), 1, 8))
              AS UBIGINT) % 10000 AS bucket
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_id
FROM b
WHERE bucket < CASE lang {case} ELSE 0 END
GROUP BY lang
"""


_PACK_BUDGET = 256


def q_td_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (trainingdata.packing) over
    the documents table: whitespace token counts, grouped by lang,
    deterministic doc_id order, 256-token chunks. Returns the
    per-language packing manifest (chunks, docs, straddlers, rows,
    total tokens) plus an order-independent checksum over the full
    (doc, chunk) map — the oracle recomputes the identical chunk
    layout with a window cumsum, so every span boundary is pinned,
    not just the counts."""
    from ..trainingdata import chunk_stats, pack_chunks, token_count

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "lang", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_chunks(
        docs, budget=_PACK_BUDGET, token_col="n_tokens", part_col="lang"
    )
    stats = chunk_stats(packed, part_col="lang")
    # order-independent span checksum in plain integer arithmetic
    # (NOT xxhash64 — the oracle must reproduce it): rows are summed,
    # each row folded as ((id*P + chunk)*P + tokens) mod M with the
    # repo's shared rolling-hash constants
    row_h = F.pmod(
        (
            F.pmod(F.col("id") * HASH_BASE + F.col("chunk_id"), F.lit(HASH_MOD))
            * HASH_BASE
            + F.col("tokens_in_chunk")
        ),
        F.lit(HASH_MOD),
    )
    checksum = packed.groupBy("lang").agg(
        F.sum(row_h).alias("span_checksum")
    )
    return stats.join(checksum, "lang")


def _oracle_td_pack() -> str:
    b = _PACK_BUDGET
    return f"""
WITH d AS (
  SELECT lang, doc_id,
         CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS tok
  FROM documents
), spans AS (
  SELECT lang, doc_id, tok,
         sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS e
  FROM d WHERE tok > 0
), rows_ AS (
  SELECT lang, doc_id, e - tok AS s, e,
         k.k AS chunk_id,
         least(e, (k.k + 1) * {b}) - greatest(e - tok, k.k * {b}) AS tic
  FROM spans,
       UNNEST(generate_series(CAST((e - tok) // {b} AS BIGINT),
                              CAST((e - 1) // {b} AS BIGINT))) AS k(k)
), per_doc AS (
  SELECT lang, doc_id, count(*) AS c FROM rows_ GROUP BY 1, 2
)
SELECT r.lang,
       CAST(max(r.chunk_id) + 1 AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_doc_chunk_rows,
       CAST(sum(r.tic) AS BIGINT) AS total_tokens,
       CAST(any_value(pd.n_straddlers) AS BIGINT) AS n_straddlers,
       CAST(any_value(pd.n_docs) AS BIGINT) AS n_docs,
       CAST(sum(((r.doc_id * {HASH_BASE} + r.chunk_id) % {HASH_MOD}
                 * {HASH_BASE} + r.tic) % {HASH_MOD}) AS BIGINT) AS span_checksum
FROM rows_ r
JOIN (
  SELECT lang,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY 1
) pd USING (lang)
GROUP BY 1
"""


# one source of truth for the PII test corpus: a deterministic text
# per event carrying an email, an IP, and (on modular schedules) a
# phone / SSN candidate plus digit decoys — the SAME SQL string runs
# through Spark's F.expr and the DuckDB oracle (both support ||, CAST
# AS STRING, lpad, CASE, %), so the corpus is identical by
# construction and the oracle isolates the detection/redaction ops.
_PII_DOC_SQL = """
'user ' || CAST(user_id AS STRING)
 || ' <u' || CAST(user_id AS STRING) || '@example.com> from 10.'
 || CAST(user_id % 256 AS STRING) || '.' || CAST(event_id % 256 AS STRING) || '.7'
 || CASE WHEN event_id % 3 = 0
         THEN ' call 555-' || lpad(CAST(user_id % 1000 AS STRING), 3, '0')
              || '-' || lpad(CAST(event_id % 10000 AS STRING), 4, '0')
         ELSE '' END
 || CASE WHEN event_id % 5 = 0
         THEN ' ssn 123-45-' || lpad(CAST(event_id % 10000 AS STRING), 4, '0')
         ELSE '' END
 || ' code ' || CAST(event_id AS STRING)
""".strip()


def q_td_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (trainingdata.pii) over a deterministic synthetic
    corpus built from the events table (`_PII_DOC_SQL`, shared
    verbatim with the oracle): per-event-type hit counts per kind,
    plus the corpus-wide invariant that redaction leaves ZERO residual
    hits of any kind (the '<KIND>' tokens cannot re-trigger a
    pattern). All detection/redaction is codegen'd regex — no UDF —
    so the only exchange is the final small aggregation."""
    from ..trainingdata import pii_counts, redact_pii, total_pii_count

    _register(spark, sf_dir, "events")
    d = spark.table("events").select(
        "event_type", F.expr(_PII_DOC_SQL).alias("text")
    )
    counts = pii_counts(F.col("text"))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(counts[k]).alias(f"n_{k}") for k in counts],
        F.sum(total_pii_count(redact_pii(F.col("text")))).alias(
            "residual_hits"
        ),
        F.sum(F.length(redact_pii(F.col("text")))).alias("redacted_chars"),
    )


def _oracle_td_pii() -> str:
    from ..trainingdata.pii import PII_PATTERNS

    def dd(pat: str) -> str:
        return pat.replace("'", "''")

    red = "text"
    for kind, pat in PII_PATTERNS.items():  # same canonical order
        red = f"regexp_replace({red}, '{dd(pat)}', '<{kind.upper()}>', 'g')"
    hit_cols = ",\n       ".join(
        f"CAST(sum(len(regexp_extract_all(text, '{dd(pat)}'))) AS BIGINT) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    residual = " + ".join(
        f"len(regexp_extract_all(red, '{dd(pat)}'))"
        for pat in PII_PATTERNS.values()
    )
    return f"""
WITH d AS (
  SELECT event_type, {_PII_DOC_SQL} AS text FROM events
), r AS (
  SELECT event_type, text, {red} AS red FROM d
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_docs,
       {hit_cols},
       CAST(sum({residual}) AS BIGINT) AS residual_hits,
       CAST(sum(length(red)) AS BIGINT) AS redacted_chars
FROM r
GROUP BY 1
"""


def q_td_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics over per-conversation documents
    (trainingdata.repetition): turn texts are template-normalized
    (digit runs → '0', the drain-style log-template step), joined into
    one '\\n'-separated document per conversation with stable turn
    ordering, and scored for duplicate lines (= repeated turn
    templates, the agent-loop signal) and repeated word n-grams. The
    final row carries every metric rounded to 6 plus the Gopher
    keep-flag computed from the UNROUNDED values — the oracle
    reproduces the exact integer numerators/denominators, so the one
    float division per metric is bit-identical."""
    from ..trainingdata import gopher_repetition_filter, repetition_metrics
    from ..trainingdata.repetition import METRIC_FIELDS
    from .shared_sql import _derive_transcripts

    t = _derive_transcripts(spark, sf_dir)
    line = F.regexp_replace(F.col("text"), "[0-9]+", "0")
    conv = (
        t.select(
            "conv_id", F.struct("turn_idx", line.alias("line")).alias("s")
        )
        .groupBy("conv_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["line"]
                ),
            ).alias("text")
        )
    )
    scored = conv.select(
        "conv_id", repetition_metrics(F.col("text")).alias("m")
    )
    m = F.col("m")
    return scored.select(
        "conv_id",
        m["n_lines"].alias("n_lines"),
        *[F.round(m[f], 6).alias(f) for f in METRIC_FIELDS[1:]],
        gopher_repetition_filter(m).alias("kept"),
    )


def _oracle_td_repetition() -> str:
    from ..trainingdata.repetition import (
        DUP_NGRAM_NS,
        GOPHER_THRESHOLDS,
        TOP_NGRAM_NS,
    )
    from .shared_sql import _TRANSCRIPTS_FROM_EVENTS

    line_strip = "' ' || chr(9) || chr(13)"
    para_strip = "' ' || chr(9) || chr(13) || chr(10)"
    ctes = [
        f"t AS ({_TRANSCRIPTS_FROM_EVENTS})",
        """conv AS (
  SELECT conv_id,
         string_agg(regexp_replace(text, '[0-9]+', '0', 'g'),
                    chr(10) ORDER BY turn_idx) AS text
  FROM t GROUP BY conv_id
)""",
    ]
    for unit, splitter, strip in (
        ("lin", "chr(10)", line_strip),
        ("par", "chr(10) || chr(10)", para_strip),
    ):
        ctes.append(
            f"""{unit} AS (
  SELECT conv_id, l, count(*) AS c
  FROM conv, UNNEST(list_filter(list_transform(
        string_split(text, {splitter}),
        x -> trim(x, {strip})), x -> x <> '')) AS u(l)
  GROUP BY 1, 2
)"""
        )
        # raw (unrounded) fractions: exact-int numerators over exact-int
        # denominators, one division — rounding happens only in the
        # final projection so the keep-flag sees the same raw values
        ctes.append(
            f"""{unit}s AS (
  SELECT conv_id,
         CAST(sum(c) AS INT) AS n_units,
         CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_frac,
         CASE WHEN sum(c * length(l)) > 0
              THEN CAST(sum(CASE WHEN c > 1 THEN (c - 1) * length(l)
                                 ELSE 0 END) AS DOUBLE)
                   / sum(c * length(l))
              ELSE 0.0 END AS dup_char_frac
  FROM {unit} GROUP BY 1
)"""
        )
    ctes.append(
        """tks AS (
  SELECT conv_id, tk, length(array_to_string(tk, ' ')) AS total
  FROM (SELECT conv_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
        FROM conv)
)"""
    )
    for n in TOP_NGRAM_NS + DUP_NGRAM_NS:
        ctes.append(
            f"""c{n} AS (
  SELECT conv_id, any_value(total) AS total, g, count(*) AS c
  FROM (SELECT conv_id, total,
               array_to_string(list_slice(tk, i.i, i.i + {n - 1}), ' ') AS g
        FROM tks,
             UNNEST(generate_series(1, greatest(len(tk) - {n - 1}, 0))) AS i(i))
  GROUP BY conv_id, g
)"""
        )
        if n in TOP_NGRAM_NS:
            # the MOST FREQUENT gram's coverage; count ties break to
            # the longest gram — same rule as repetition_metrics_py
            ctes.append(
                f"""m{n} AS (
  SELECT conv_id, CAST(c * length(g) AS DOUBLE) / total AS frac
  FROM c{n}
  WHERE total > 0
  QUALIFY row_number() OVER (
    PARTITION BY conv_id ORDER BY c DESC, length(g) DESC) = 1
)"""
            )
        else:
            ctes.append(
                f"""m{n} AS (
  SELECT conv_id,
         CASE WHEN any_value(total) > 0
              THEN CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
                        AS DOUBLE) / any_value(total)
              ELSE 0.0 END AS frac
  FROM c{n} GROUP BY 1
)"""
            )

    raw = {
        "dup_line_frac": "coalesce(lins.dup_frac, 0.0)",
        "dup_line_char_frac": "coalesce(lins.dup_char_frac, 0.0)",
        "dup_para_frac": "coalesce(pars.dup_frac, 0.0)",
        "dup_para_char_frac": "coalesce(pars.dup_char_frac, 0.0)",
        **{
            f"top_{n}gram_char_frac": f"coalesce(m{n}.frac, 0.0)"
            for n in TOP_NGRAM_NS
        },
        **{
            f"dup_{n}gram_char_frac": f"coalesce(m{n}.frac, 0.0)"
            for n in DUP_NGRAM_NS
        },
    }
    kept = " AND ".join(
        f"{raw[name]} <= {limit}" for name, limit in GOPHER_THRESHOLDS.items()
    )
    cols = ",\n       ".join(
        f"round({expr}, 6) AS {name}" for name, expr in raw.items()
    )
    joins = "".join(
        f" LEFT JOIN m{n} USING (conv_id)" for n in TOP_NGRAM_NS + DUP_NGRAM_NS
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT conv.conv_id,
       coalesce(lins.n_units, 0) AS n_lines,
       {cols},
       ({kept}) AS kept
FROM conv LEFT JOIN lins USING (conv_id) LEFT JOIN pars USING (conv_id){joins}
"""
    )


# ---------------------------------------------------------------------------
# registry fragments (merged by entry_queries)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def q_td_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (trainingdata.decontam): the eval set
    is the deterministic top-2% md5-bucket slice of documents (the
    same key-hash machinery as assign_split, so the benchmark
    membership is engine-portable), the train side is the rest; report
    every train document sharing an n-gram with the eval set. n =
    MINHASH_K so the oracle reuses the proven shingle SQL; production
    uses 8–13-token windows (DEFAULT_DECONTAM_N)."""
    from ..trainingdata import contamination, split_bucket

    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    bucket = split_bucket(F.col("doc_id"))
    ev = d.filter(bucket >= 9800)
    tr = d.filter(bucket < 9800)
    return contamination(tr, ev, n=MINHASH_K)


def _oracle_td_decontam() -> str:
    # mirrors contamination(short_widths="auto"): the widths CTE
    # derives eval-present short widths from the data (empty on the sf
    # corpora — min doc width is 10 tokens — but the oracle stays
    # value-exact if a corpus ever carries short benchmark prompts)
    return f"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 10000 AS bucket,
         {_SQL_TOKS} AS toks,
         {_SQL_SHINGLES} AS ngs
  FROM documents
), ev AS (
  SELECT DISTINCT unnest(ngs) AS g FROM b WHERE bucket >= 9800
), widths AS (
  SELECT DISTINCT len(toks) AS w FROM b
  WHERE bucket >= 9800 AND len(toks) > 0 AND len(toks) < {MINHASH_K}
), tr_grams AS (
  SELECT doc_id, unnest(ngs) AS g FROM b WHERE bucket < 9800
  UNION
  SELECT t.doc_id,
         unnest(CASE WHEN len(t.toks) >= w.w
           THEN list_transform(generate_series(1, len(t.toks) - w.w + 1),
                               i -> array_to_string(list_slice(t.toks, i, i + w.w - 1), ' '))
           ELSE [array_to_string(t.toks, ' ')] END) AS g
  FROM b t CROSS JOIN widths w WHERE t.bucket < 9800
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_ngrams
  FROM tr_grams GROUP BY 1
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS hit_ngrams
  FROM tr_grams JOIN ev USING (g) GROUP BY 1
)
SELECT hits.doc_id, tot.total_ngrams, hits.hit_ngrams,
       round(CAST(hits.hit_ngrams AS DOUBLE) / CAST(tot.total_ngrams AS DOUBLE), 6)
         AS contamination
FROM hits JOIN tot USING (doc_id)
"""


# ---------------------------------------------------------------------------
# chunk-level exact substring dedup (boilerplate)
# ---------------------------------------------------------------------------

def q_td_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (trainingdata.dedup.chunk_dedup_stats):
    10-token non-overlapping chunks, a chunk is boilerplate when it
    appears in ≥2 distinct documents; per affected document report the
    duplicated-chunk fraction. Chunks travel as md5 hashes (engine-
    portable), so the oracle recomputes the identical chunking."""
    from ..trainingdata import chunk_dedup_stats

    _register(spark, sf_dir, "documents")
    return chunk_dedup_stats(spark.table("documents"))


def _oracle_td_chunk_dedup() -> str:
    from ..trainingdata.dedup import CHUNK_WIDTH as W

    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), f AS (
  SELECT doc_id, toks, CAST(len(toks) // {W} AS BIGINT) AS n_chunks FROM t
), ch AS (
  SELECT doc_id, n_chunks,
         md5(array_to_string(list_slice(toks, i * {W} + 1, i * {W} + {W}), ' ')) AS h
  FROM f, unnest(generate_series(0, n_chunks - 1)) AS u(i)
  WHERE n_chunks >= 1
), boiler AS (
  SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT ch.doc_id, ch.n_chunks, CAST(count(*) AS BIGINT) AS dup_chunks,
       round(CAST(count(*) AS DOUBLE) / CAST(ch.n_chunks AS DOUBLE), 6)
         AS dup_fraction
FROM ch JOIN boiler USING (h)
GROUP BY ch.doc_id, ch.n_chunks
"""


# mixture-weighting spec for the driver query: en/de capped so the
# budget bites at every sf (en holds ~10-112k tokens across
# sf0.001-0.1), zh capped ABOVE its total (pins the no-bite path),
# fr/es absent (pins the uncapped keep-in-full path)
_MIX_BUDGETS = {"en": 6000, "de": 2000, "zh": 100_000}
_MIX_SALT = "|mix-v1"


def q_td_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting (trainingdata.sample_to_token_budget): cap
    each language at a total-token budget via the greedy md5-bucket
    prefix — deterministic in doc_id, budget-monotone, one tiny
    histogram shuffle + a broadcast of one cutoff row per capped
    group. Summarised per language as count + sum(doc_id) + kept
    bucket range, the same membership pinning the split case uses;
    the oracle recomputes the identical cumsum/cutoff in DuckDB."""
    from ..trainingdata import sample_to_token_budget, split_bucket, token_count

    _register(spark, sf_dir, "documents")
    d = spark.table("documents").withColumn("_tok", token_count(F.col("text")))
    kept = sample_to_token_budget(
        d, _MIX_BUDGETS, "lang", "doc_id", "_tok", salt=_MIX_SALT
    )
    bucket = split_bucket(
        F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_id"),
        F.min(bucket).alias("min_bucket"),
        F.max(bucket).alias("max_bucket"),
    )


def _oracle_td_token_budget() -> str:
    budget_case = " ".join(
        f"WHEN '{lang}' THEN {b}" for lang, b in _MIX_BUDGETS.items()
    )
    capped = ", ".join(f"'{lang}'" for lang in _MIX_BUDGETS)
    return f"""
WITH tb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_MIX_SALT}'), 1, 8))
              AS UBIGINT) % 10000 AS bucket,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS w
  FROM documents
), hist AS (
  SELECT lang, bucket, sum(w) AS tok FROM tb
  WHERE lang IN ({capped}) GROUP BY 1, 2
), cum AS (
  SELECT lang, bucket,
         sum(tok) OVER (PARTITION BY lang ORDER BY bucket) AS running
  FROM hist
), cuts AS (
  SELECT lang,
         coalesce(max(CASE WHEN running <= CASE lang {budget_case} END
                           THEN bucket END), -1) AS cut
  FROM cum GROUP BY lang
)
SELECT tb.lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(min(tb.bucket) AS BIGINT) AS min_bucket,
       CAST(max(tb.bucket) AS BIGINT) AS max_bucket
FROM tb LEFT JOIN cuts ON tb.lang = cuts.lang
WHERE cuts.lang IS NULL OR tb.bucket <= cuts.cut
GROUP BY tb.lang
"""


def q_td_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-selection matrix: the train/val/test split
    summary, the stratified-sample summary and the token-budget
    mixture summary as one tagged union (`case` = 'split' | 'sample'
    | 'budget') — three components, one driver row, holding the
    50-row correctness budget. Each part is the SAME frame its
    standalone query produced; sample rows carry -1 for the
    bucket-range columns the split and budget cases own (budget
    bucket ranges are in the salted mix bucket space, split ranges in
    the unsalted split space)."""
    split = q_td_split_assign(spark, sf_dir).select(
        F.lit("split").alias("case"),
        F.col("split").alias("grp"),
        "n", "sum_id", "min_bucket", "max_bucket",
    )
    sample = q_td_stratified_sample(spark, sf_dir).select(
        F.lit("sample").alias("case"),
        F.col("lang").alias("grp"),
        F.col("n_kept").alias("n"),
        "sum_id",
        F.lit(-1).cast("long").alias("min_bucket"),
        F.lit(-1).cast("long").alias("max_bucket"),
    )
    budget = q_td_token_budget(spark, sf_dir).select(
        F.lit("budget").alias("case"),
        F.col("lang").alias("grp"),
        F.col("n_kept").alias("n"),
        "sum_id", "min_bucket", "max_bucket",
    )
    return split.unionByName(sample).unionByName(budget)


def _oracle_td_selection() -> str:
    return f"""
WITH split_side AS ({_oracle_td_split_assign()}),
sample_side AS ({_oracle_td_stratified_sample()}),
budget_side AS ({_oracle_td_token_budget()})
SELECT 'split' AS "case", split AS grp, n, sum_id, min_bucket, max_bucket
FROM split_side
UNION ALL
SELECT 'sample', lang, n_kept, sum_id,
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM sample_side
UNION ALL
SELECT 'budget', lang, n_kept, sum_id, min_bucket, max_bucket
FROM budget_side
"""


# perplexity-bucket edges for the driver query: chosen so head /
# middle / tail are all non-empty on every sf corpus (score medians
# sit at ~30.2-30.6 across sf0.001/0.01/0.1)
_PPL_EDGES = (30.0, 31.0)


def q_td_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (trainingdata.lm, Wenzek et al.
    2020): train an add-one bigram model on the deterministic 'train'
    split of the corpus (assign_split, bucket < 8000 — no leakage
    from val/test), score EVERY document's perplexity under it, and
    bucket head/middle/tail on fixed edges. The oracle retrains the
    identical model in DuckDB from the same parquet — exact integer
    counts, per-term ln rounded to 12 dp, position-ordered sequential
    fold — so the full score, not a summary, is hash-compared."""
    from ..trainingdata import assign_split, perplexity_buckets, train_bigram_lm

    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    train = d.filter(
        assign_split(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        ) == "train"
    )
    lm = train_bigram_lm(train)
    return perplexity_buckets(d, lm, edges=_PPL_EDGES).select(
        "id", "n_bigrams", "ppl", "bucket"
    )


def _oracle_td_perplexity() -> str:
    from ..trainingdata import LM_ALPHA

    lo, hi = _PPL_EDGES
    a = float(LM_ALPHA)
    ppl = "round(exp(-a.total / a.n_bigrams), 6)"
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
), train AS (
  SELECT doc_id, tk FROM toks
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
          % 10000 < 8000
), uni AS (
  SELECT u.w AS w, count(*) AS c1 FROM train, unnest(tk) AS u(w) GROUP BY 1
), vs AS (
  SELECT count(*) + 1 AS v FROM uni
), big AS (
  SELECT tk[g.i] AS w1, tk[g.i + 1] AS w2, count(*) AS c12
  FROM train, unnest(generate_series(1, len(tk) - 1)) AS g(i)
  GROUP BY 1, 2
), pos AS (
  SELECT doc_id, g.i AS i, tk[g.i] AS w1, tk[g.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
), terms AS (
  SELECT p.doc_id, p.i,
         round(ln((CAST(coalesce(b.c12, 0) AS DOUBLE) + {a}) /
                  (CAST(coalesce(u.c1, 0) AS DOUBLE)
                   + {a} * CAST(vs.v AS DOUBLE))), 12) AS t
  FROM pos p
  LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
  LEFT JOIN uni u ON u.w = p.w1
  CROSS JOIN vs
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(t ORDER BY i)),
                     (acc, x) -> acc + x) AS total
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN a.n_bigrams > 0 THEN {ppl} END AS ppl,
       CASE WHEN a.n_bigrams IS NULL OR a.n_bigrams = 0 THEN 'unscored'
            WHEN {ppl} <= {lo} THEN 'head'
            WHEN {ppl} <= {hi} THEN 'middle'
            ELSE 'tail' END AS bucket
FROM toks d LEFT JOIN agg a USING (doc_id)
"""


TD_QUERIES = {
    "td_minhash_lsh_pairs": q_td_minhash_lsh_pairs,
    "td_simhash": q_td_simhash,
    "td_decontam": q_td_decontam,
    "td_chunk_dedup": q_td_chunk_dedup,
    "td_salted_conv_counts": q_td_salted_conv_counts,
    "td_ngram_jaccard": q_td_ngram_jaccard,
    "td_embed_near_dup": q_td_embed_near_dup,
    "td_topk": q_td_topk,
    "td_incremental_dedup": q_td_incremental_dedup,
    "td_doc_signals": q_td_doc_signals,
    "td_pii": q_td_pii,
    "td_media_features": q_td_media_features,
    "td_media_decode": q_td_media_decode,
    "td_selection": q_td_selection,
    "td_dup_components": q_td_dup_components,
    "td_perplexity": q_td_perplexity,
    "td_repetition": q_td_repetition,
    "td_pack": q_td_pack,
}

TD_ORACLES = {
    "td_minhash_lsh_pairs": _oracle_td_minhash_lsh_pairs(),
    "td_simhash": _oracle_td_simhash(),
    "td_decontam": _oracle_td_decontam(),
    "td_chunk_dedup": _oracle_td_chunk_dedup(),
    "td_salted_conv_counts": _oracle_td_salted_conv_counts(),
    "td_ngram_jaccard": _oracle_td_ngram_jaccard(),
    # td_embed_near_dup: oracle built in __spark_entry__ at call time
    # (sized by the sf dir's embeddings, see td_embed_near_dup_oracle_sql)
    "td_topk": _oracle_td_topk(),
    "td_incremental_dedup": _oracle_td_incremental_dedup(),
    "td_doc_signals": _oracle_td_doc_signals(),
    "td_pii": _oracle_td_pii(),
    "td_media_features": _oracle_td_media_features(),
    "td_media_decode": _oracle_td_media_decode(),
    "td_selection": _oracle_td_selection(),
    "td_dup_components": _oracle_td_dup_components(),
    "td_perplexity": _oracle_td_perplexity(),
    "td_repetition": _oracle_td_repetition(),
    "td_pack": _oracle_td_pack(),
}
