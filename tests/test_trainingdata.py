"""Training-data ops: dedup (exact/MinHash-LSH/SimHash/Jaccard/
embedding), similarity search, text analysis, multimodal plumbing.
Goldens are computed with independent pure-Python implementations."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.trainingdata import (
    ann_lsh_topk,
    brute_force_topk,
    doc_fingerprint,
    embedding_near_dup_pairs,
    exact_dedup_clusters,
    extract_features,
    frame_sample,
    hamming_distance,
    lang_id,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    quality_score,
    rolling_hash,
    simhash,
    synthesize_media,
    token_count,
    bpe_ish_token_count,
)
from opentelemetry_collector_spark.trainingdata import decode_media
from opentelemetry_collector_spark.trainingdata.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_H,
    MINHASH_K,
)
from opentelemetry_collector_spark.trainingdata.text import HASH_BASE, HASH_MOD


def py_rolling(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * HASH_BASE + ord(ch)) % HASH_MOD
    return h


def py_shingles(text: str, k: int = MINHASH_K) -> list[str]:
    toks = text.strip().lower().split()
    toks = [t for t in toks if t]
    if len(toks) >= k:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        grams = [" ".join(toks)]
    seen, out = set(), []
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def py_minhash(text: str) -> list[int]:
    bases = [py_rolling(s) for s in py_shingles(text)]
    return [
        min((MINHASH_A[j] * b + MINHASH_B[j]) % HASH_MOD for b in bases)
        for j in range(MINHASH_H)
    ]


def py_simhash(text: str, bits: int = 32) -> int:
    toks = text.strip().lower().split()
    hashes = [py_rolling(t) for t in toks]
    value = 0
    for b in range(bits):
        vote = sum(1 if (h >> b) & 1 else -1 for h in hashes)
        if vote > 0:
            value |= 1 << b
    return value


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "src0"),
    (1, "the quick brown fox jumps over the lazy cat", "src0"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog", "src0"),  # exact dup of 0
    (3, "completely different content about spark engines", "src1"),
    (4, "der hund und die katze sind nicht im haus", "src1"),
    (5, "ab", "src1"),  # shorter than k tokens
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string").cache()


class TestTextAnalysis:
    def test_rolling_hash_matches_python(self, spark):
        df = spark.createDataFrame([("abc",), ("the quick",), ("",)], "s string")
        got = [r[0] for r in df.select(rolling_hash(F.col("s"))).collect()]
        assert got == [py_rolling("abc"), py_rolling("the quick"), 0]

    def test_token_counts(self, docs):
        row = (
            docs.filter(F.col("doc_id") == 0)
            .select(
                token_count(F.col("text")).alias("ws"),
                bpe_ish_token_count(F.col("text")).alias("bpe"),
            )
            .first()
        )
        assert row["ws"] == 9
        assert row["bpe"] == 9  # pure words, no punctuation

    def test_bpe_ish_counts_punct(self, spark):
        df = spark.createDataFrame([("hello, world! x2",)], "s string")
        # pieces: hello , world ! x 2
        assert df.select(bpe_ish_token_count(F.col("s"))).first()[0] == 6

    def test_lang_id(self, docs):
        rows = dict(
            docs.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()
        )
        assert rows[0] == "en"
        assert rows[4] == "de"
        assert rows[5] == "und"

    def test_quality_score_bounds(self, docs):
        scores = [r[0] for r in docs.select(quality_score(F.col("text"))).collect()]
        assert all(0.0 <= s <= 1.0 for s in scores)

    def test_fingerprint_normalizes_whitespace(self, spark):
        df = spark.createDataFrame(
            [("a  b\tc",), ("A b C",)], "s string"
        )
        got = [r[0] for r in df.select(doc_fingerprint(F.col("s"))).collect()]
        assert got[0] == got[1] == py_rolling("a b c")


class TestExactDedup:
    def test_clusters(self, docs):
        rows = exact_dedup_clusters(docs).collect()
        by_keep = {r["keep_id"]: r["cluster_size"] for r in rows}
        assert by_keep[0] == 2  # docs 0 and 2
        assert by_keep[1] == 1
        assert len(rows) == 5


class TestMinHash:
    def test_signature_matches_python(self, docs):
        rows = docs.select(
            "doc_id", minhash_signature(F.col("text")).alias("sig")
        ).collect()
        for r in rows:
            expect = py_minhash(DOCS[r["doc_id"]][1])
            assert list(r["sig"]) == expect, f"doc {r['doc_id']}"

    def test_lsh_finds_near_dups(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(docs).collect()
        }
        assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup always collides
        # near-dup 0~1 shares most shingles; jaccard = |∩|/|∪| = 6/8
        if (0, 1) in pairs:
            assert pairs[(0, 1)] == 0.75
        # unrelated docs must not appear
        assert (0, 3) not in pairs

    def test_threshold_filters(self, docs):
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.9).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 2)}


class TestIncrementalMinHash:
    """Parity law: incremental(new, index(old)) == batch(old ∪ new)
    filtered to pairs with ≥1 new endpoint — for every split of the
    corpus, including splits where the near-dup cluster straddes the
    index/batch boundary and splits where it doesn't."""
    # slow lane: ingest-vs-batch parity corpora; td_incremental_dedup driver row re-verifies every round
    pytestmark = pytest.mark.slow

    def _batch_pairs_touching(self, df, new_ids):
        rows = minhash_lsh_pairs(df).collect()
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in rows
            if r["id_a"] in new_ids or r["id_b"] in new_ids
        }

    @pytest.mark.parametrize("new_ids", [{1}, {0, 2}, {3, 4, 5}, {0, 1, 2}])
    def test_parity_with_batch(self, spark, docs, new_ids):
        from opentelemetry_collector_spark.trainingdata import (
            minhash_index,
            minhash_lsh_pairs_incremental,
        )

        old = docs.filter(~F.col("doc_id").isin(list(new_ids)))
        new = docs.filter(F.col("doc_id").isin(list(new_ids)))
        bands, shingles = minhash_index(old)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs_incremental(new, bands, shingles).collect()
        }
        assert got == self._batch_pairs_touching(docs, new_ids)

    def test_cap_parity_on_hot_bucket(self, spark):
        """A bucket hotter than the cap: combined-membership capping
        must pick the SAME survivors the batch path picks, so the
        incremental pair set still equals the filtered batch set."""
        from opentelemetry_collector_spark.trainingdata import (
            minhash_index,
            minhash_lsh_pairs_incremental,
        )

        rows = [(i, "hot bucket boilerplate text shared by all", "s") for i in range(8)]
        rows += [(100, "some unrelated fresh content entirely new", "s")]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        new_ids = {3, 6, 100}
        old = df.filter(~F.col("doc_id").isin(list(new_ids)))
        new = df.filter(F.col("doc_id").isin(list(new_ids)))
        bands, shingles = minhash_index(old)
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs_incremental(
                new, bands, shingles, hot_bucket_limit=5
            ).collect()
        }
        batch = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, hot_bucket_limit=5).collect()
            if r["id_a"] in new_ids or r["id_b"] in new_ids
        }
        # cap=5 on an 8-member bucket: ids 0-4 survive, so new id 3
        # pairs with 0,1,2,4 and new ids 6/100 pair with nothing
        assert got == batch
        assert got == {(0, 3), (1, 3), (2, 3), (3, 4)}

    def test_index_side_never_self_joins(self, spark, docs):
        """The physical plan must not contain an index×index join:
        every join leg that reads the index bands is paired with a
        leg rooted at the new batch (checked structurally: the plan
        has exactly the two candidate-join exchanges the new side
        needs, and the semi-join prune node is present)."""
        from opentelemetry_collector_spark.trainingdata import (
            minhash_index,
            minhash_lsh_pairs_incremental,
        )

        old = docs.filter(F.col("doc_id") < 4)
        new = docs.filter(F.col("doc_id") >= 4)
        bands, shingles = minhash_index(old)
        out = minhash_lsh_pairs_incremental(new, bands, shingles)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # Structural shape (the logical plan holds the combined
        # subtree once per candidate-join side, hence 2 semis; the
        # physical plan shares its exchange): the
        # prune must be present on BOTH legs, the join census must be
        # exactly prune×2 + candidate + two shingle verifies, and —
        # the discriminating fact — a Filter on the _new tag must
        # survive (it cannot push through the cap window). A
        # reintroduced corpus self-join (all_side × all_side) keeps
        # the semi nodes and the join count but LOSES the _new
        # filter, since neither side would restrict to the new batch.
        assert plan.count("Join LeftSemi") == 2, plan
        n_joins = len(re.findall(r"\bJoin (Inner|LeftSemi)\b", plan))
        assert n_joins == 5, f"expected 5 joins, got {n_joins}:\n{plan}"
        assert re.search(r"Filter [^\n]*_new", plan), plan


class TestSimHash:
    def test_matches_python(self, docs):
        rows = docs.select("doc_id", simhash(F.col("text")).alias("sh")).collect()
        for r in rows:
            assert r["sh"] == py_simhash(DOCS[r["doc_id"]][1]), f"doc {r['doc_id']}"

    def test_hamming(self, spark, docs):
        sigs = docs.select("doc_id", simhash(F.col("text")).alias("sh"))
        a = sigs.filter(F.col("doc_id") == 0).select(F.col("sh").alias("sa"))
        b = sigs.filter(F.col("doc_id").isin(1, 2, 3)).select("doc_id", F.col("sh").alias("sb"))
        dists = dict(
            a.crossJoin(b)
            .select("doc_id", hamming_distance(F.col("sa"), F.col("sb")).alias("d"))
            .collect()
        )
        assert dists[2] == 0  # exact dup
        assert dists[1] < dists[3]  # near-dup closer than unrelated

    def test_exploded_band0_is_per_doc_code(self, docs):
        """Band 0 of the uncapped band frame carries exactly one
        (id, sh) row per document with the full simhash."""
        from opentelemetry_collector_spark.trainingdata import (
            simhash_exploded_bands,
        )

        ex = simhash_exploded_bands(docs)
        band0 = {
            r["id"]: r["sh"]
            for r in ex.filter(F.col("band_idx") == 0).collect()
        }
        direct = {
            r["doc_id"]: r["sh"]
            for r in docs.select(
                "doc_id", simhash(F.col("text")).alias("sh")
            ).collect()
        }
        assert band0 == direct


class TestHotBucketCap:
    @pytest.fixture(scope="class")
    def hot_corpus(self, spark):
        # 120 identical boilerplate docs (every band collides) plus the
        # normal fixture content
        rows = [(100 + i, "terms of service apply to all users", "boiler") for i in range(120)]
        rows += [(d[0], d[1], d[2]) for d in DOCS]
        return spark.createDataFrame(rows, "doc_id long, text string, source string").cache()

    def test_minhash_cap_bounds_candidates(self, hot_corpus):
        capped = minhash_lsh_pairs(hot_corpus, hot_bucket_limit=10).collect()
        boiler = [r for r in capped if r["id_a"] >= 100 and r["id_b"] >= 100]
        # ≤ C(10,2)=45 pairs from the hot cluster instead of C(120,2)=7140
        assert 0 < len(boiler) <= 45

    def test_simhash_cap_bounds_candidates(self, hot_corpus):
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs

        capped = simhash_lsh_pairs(hot_corpus, hot_bucket_limit=10).collect()
        boiler = [r for r in capped if r["id_a"] >= 100 and r["id_b"] >= 100]
        assert 0 < len(boiler) <= 45

    def test_cap_is_observable_not_silent(self, hot_corpus):
        """ADVICE r3: recall loss from the default cap must be
        detectable — the capping stage reports dropped_members and
        capped_buckets via the Observation API."""
        from pyspark.sql import Observation

        obs = Observation("cap_test")
        minhash_lsh_pairs(
            hot_corpus, hot_bucket_limit=10, cap_observation=obs
        ).collect()
        got = obs.get
        # 120 boilerplate docs, 10 survive per bucket: every one of
        # the MINHASH_BANDS identical buckets drops 110 members
        assert got["capped_buckets"] >= 1
        assert got["dropped_members"] >= 110

    def test_cap_observation_zero_on_healthy_corpus(self, docs):
        from pyspark.sql import Observation

        obs = Observation("cap_test_zero")
        minhash_lsh_pairs(
            docs, hot_bucket_limit=1000, cap_observation=obs
        ).collect()
        got = obs.get
        assert got["dropped_members"] == 0
        assert got["capped_buckets"] == 0

    def test_cap_metric_counts_once_per_call(self, hot_corpus):
        """`at_cap_buckets` equals the true number of capped buckets on
        every call: not doubled, although both self-join sides carry
        the cap's observe, and not silenced on a second call over the
        same input."""
        from opentelemetry_collector_spark.trainingdata import minhash_index

        bands, _ = minhash_index(hot_corpus)
        truth = (
            bands.groupBy("band_idx", "band_key").count()
            .filter(F.col("count") >= 10).count()
        )
        assert truth >= 1  # the boilerplate buckets are over the cap
        for _ in range(2):
            df = minhash_lsh_pairs(hot_corpus, hot_bucket_limit=10)
            df.collect()
            metrics = df._jdf.queryExecution().observedMetrics()
            row = metrics.get("minhash_hot_bucket_cap").get()
            assert row.getAs("at_cap_buckets") == truth

    def test_cap_leaves_healthy_corpus_unchanged(self, docs):
        # every bucket in the normal fixture is under the limit, so the
        # pair set must be identical with and without the cap
        plain = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, hot_bucket_limit=None).collect()
        }
        capped = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, hot_bucket_limit=10).collect()
        }
        assert plain == capped

    def test_scale_knob_defaults_active_and_harmless(self, docs):
        # the SAFE-AT-SCALE knobs are now the defaults (verdict r2):
        # minhash ships DEFAULT_HOT_BUCKET_LIMIT, embeddings auto-size
        # n_bits from the corpus — and on a healthy corpus neither
        # changes the result vs the explicit small-corpus settings
        import inspect

        from opentelemetry_collector_spark.trainingdata import (
            simhash_lsh_pairs,
        )
        from opentelemetry_collector_spark.trainingdata.dedup import (
            DEFAULT_HOT_BUCKET_LIMIT,
            minhash_lsh_pairs as mlp,
        )

        from opentelemetry_collector_spark.trainingdata.dedup import (
            DEFAULT_SIMHASH_BUCKET_LIMIT,
        )

        assert DEFAULT_HOT_BUCKET_LIMIT == 1000
        assert (
            inspect.signature(mlp).parameters["hot_bucket_limit"].default
            == DEFAULT_HOT_BUCKET_LIMIT
        )
        # simhash's cap is deliberately tighter: its buckets share a
        # 15-17-bit key slice, not a full band signature, so big
        # buckets are mostly hamming-rejects (see dedup.py constant)
        assert (
            inspect.signature(simhash_lsh_pairs).parameters["hot_bucket_limit"].default
            == DEFAULT_SIMHASH_BUCKET_LIMIT
            == 200
        )
        default = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs).collect()
        }
        uncapped = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, hot_bucket_limit=None).collect()
        }
        assert default == uncapped

    def test_embed_auto_bits_matches_explicit(self, spark):
        from opentelemetry_collector_spark.trainingdata import (
            embedding_near_dup_pairs,
        )
        from opentelemetry_collector_spark.trainingdata.dedup import (
            hyperplane_bits_for,
        )

        rng = __import__("numpy").random.default_rng(7)
        vecs = [
            (i, [float(x) for x in rng.standard_normal(64)]) for i in range(40)
        ]
        # a couple of true near-dups
        vecs.append((100, [v * 1.01 for v in vecs[0][1]]))
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        auto = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
        }
        explicit = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                df, threshold=0.9, n_bits=hyperplane_bits_for(41)
            ).collect()
        }
        assert auto == explicit and (0, 100) in auto


class TestProductionHash:
    """The xxhash64 production path must be a working code path, not a
    docstring promise: same operator semantics, different hash."""

    def test_minhash_xxhash_finds_same_near_dups(self, docs):
        from opentelemetry_collector_spark.trainingdata import production_hash

        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(
                docs, jaccard_threshold=0.7, hash_fn=production_hash
            ).collect()
        }
        assert pairs[(0, 2)] == 1.0  # identical docs → identical signatures
        # verification is exact-set jaccard, so no unrelated pair passes
        assert all(a < 3 and b < 3 for a, b in pairs)

    def test_simhash_xxhash_exact_dup_hamming0(self, docs):
        from opentelemetry_collector_spark.trainingdata import (
            production_hash,
            simhash_lsh_pairs,
        )

        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_lsh_pairs(docs, hash_fn=production_hash).collect()
        }
        assert pairs[(0, 2)] == 0

    def test_hash_fn_values_in_range(self, docs):
        from opentelemetry_collector_spark.trainingdata import production_hash
        from opentelemetry_collector_spark.trainingdata.text import HASH_MOD

        vals = [
            r["h"]
            for r in docs.select(production_hash(F.col("text")).alias("h")).collect()
        ]
        assert all(0 <= v < HASH_MOD for v in vals)


class TestNgramJaccard:
    def test_blocked_pairs(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, block_col="source", threshold=0.5).collect()
        }
        assert pairs == {(0, 2): 1.0, (0, 1): 0.75, (1, 2): 0.75}


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    rows = []
    for i in range(20):
        if i < 3:  # cluster of near-dups of base
            v = base + rng.standard_normal(8) * 0.01
        else:
            v = rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


class TestEmbeddingOps:
    # slow lane: hyperplane/ANN recall sweeps; td_embed_near_dup + td_topk driver rows re-verify
    pytestmark = pytest.mark.slow
    def test_near_dup_pairs_all(self, vectors):
        pairs = embedding_near_dup_pairs(vectors, threshold=0.99, use_lsh=False).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert got == {(0, 1), (0, 2), (1, 2)}

    def test_lsh_recall_on_identical_bucket(self, vectors):
        # near-identical vectors land in the same hyperplane bucket
        pairs = embedding_near_dup_pairs(vectors, threshold=0.99, use_lsh=True).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert got == {(0, 1), (0, 2), (1, 2)}

    def test_brute_force_topk(self, vectors):
        first = vectors.filter(F.col("vec_id") == 0).first()
        q = [float(x) for x in first["embedding"]]
        rows = brute_force_topk(vectors, q, k=4).collect()
        assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == 1.0
        assert {r["vec_id"] for r in rows[:3]} == {0, 1, 2}
        # descending order
        sims = [r["cosine"] for r in rows]
        assert sims == sorted(sims, reverse=True)

    def test_ann_agrees_with_brute_force_on_top1(self, vectors):
        first = vectors.filter(F.col("vec_id") == 0).first()
        q = [float(x) for x in first["embedding"]]
        ann = ann_lsh_topk(vectors, q, k=3).collect()
        assert ann[0]["vec_id"] == 0
        assert {r["vec_id"] for r in ann} <= {0, 1, 2}

    def test_hyperplane_family_is_nested(self):
        from opentelemetry_collector_spark.trainingdata import make_hyperplanes

        p8, p16 = make_hyperplanes(8), make_hyperplanes(16)
        assert p16[:8] == p8  # raising bits only splits buckets

    def test_hyperplane_bits_scale_with_corpus(self):
        from opentelemetry_collector_spark.trainingdata import hyperplane_bits_for

        assert hyperplane_bits_for(500, target_bucket_size=1000) == 1
        assert hyperplane_bits_for(10**9, target_bucket_size=1000) == 20
        assert hyperplane_bits_for(10**30) <= 48  # capped for long packing

    def test_n_bits_candidates_nest(self, vectors):
        # nested planes ⇒ finer signatures only split buckets, so the
        # verified pair set at 16 bits ⊆ the set at 8 bits
        p8 = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                vectors, threshold=0.9, use_lsh=True, n_bits=8
            ).collect()
        }
        p16 = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                vectors, threshold=0.9, use_lsh=True, n_bits=16
            ).collect()
        }
        assert p16 <= p8

    def test_oversized_vector_raises_not_bucket0(self, spark):
        # a vector longer than the hyperplane dim must fail loudly,
        # not silently collapse into bucket 0 via a null dot product
        from opentelemetry_collector_spark.trainingdata.dedup import EMBED_DIM
        from opentelemetry_collector_spark.trainingdata.similarity import (
            hyperplane_signature,
        )

        bad = spark.createDataFrame(
            [(1, [0.5] * (EMBED_DIM + 3))], "vec_id int, embedding array<double>"
        )
        with pytest.raises(Exception, match="dimension exceeds"):
            bad.select(hyperplane_signature(F.col("embedding"))).collect()


class TestMultimodal:
    def test_media_schema_and_features(self, docs):
        media = synthesize_media(docs)
        assert [f.name for f in media.schema.fields] == [
            "media_id", "kind", "payload", "meta",
        ]
        feats = extract_features(media).collect()
        by_id = {r["media_id"]: r for r in feats}
        # independent golden for doc 5 payload b"ab"
        assert by_id[5]["n_bytes"] == 2
        hist = np.bincount(np.frombuffer(b"ab", dtype=np.uint8) % 16, minlength=16)
        hist = (hist / hist.sum()).round(6)
        assert list(by_id[5]["features"]) == list(hist)
        # L1 normalized (entries rounded to 6dp, so allow rounding slack)
        for r in feats:
            assert abs(sum(r["features"]) - 1.0) < 1e-4

    def test_decode_stub_raises(self, docs):
        with pytest.raises(NotImplementedError):
            decode_media(synthesize_media(docs))

    def test_decode_fake(self, docs):
        media = synthesize_media(docs)
        out = decode_media(media, codec="fake").collect()
        row = next(r for r in out if r["media_id"] == 5)
        assert row["pixels"][0] == round(ord("a") / 255.0, 6)

    def test_frame_sample(self, docs):
        media = synthesize_media(docs)
        frames = frame_sample(media, every_n=2).collect()
        assert frames, "some docs must be videos"
        for r in frames:
            assert r["frame_idx"] % 2 == 0
            assert r["frame_bytes"] >= 1


class TestRealCodecs:
    """BMP (24-bpp BI_RGB) and WAV (RIFF PCM16) are REAL decoders —
    header parsing + numpy — not stand-ins; compressed codecs stay
    gated behind codec='real'."""

    def test_bmp_round_trip_values(self):
        from opentelemetry_collector_spark.trainingdata import (
            decode_bmp, encode_bmp,
        )

        g = (np.arange(15, dtype=np.uint8) * 17 % 256).reshape(3, 5)
        back = decode_bmp(encode_bmp(g))
        assert back.shape == (3, 5)
        assert np.array_equal(back, g.astype(np.float64))

    def test_bmp_rejects_non_bmp_and_compressed(self):
        from opentelemetry_collector_spark.trainingdata import decode_bmp

        with pytest.raises(ValueError, match="not a BMP"):
            decode_bmp(b"PNG....")
        # 8-bpp header is refused, not silently mis-decoded
        import struct

        from opentelemetry_collector_spark.trainingdata import encode_bmp

        blob = bytearray(encode_bmp(np.zeros((2, 2), dtype=np.uint8)))
        struct.pack_into("<H", blob, 28, 8)
        with pytest.raises(ValueError, match="24-bpp"):
            decode_bmp(bytes(blob))

    def test_wav_round_trip_and_chunk_walk(self):
        import struct

        from opentelemetry_collector_spark.trainingdata import (
            decode_wav, encode_wav,
        )

        s = ((np.arange(99) * 1103) % 65536 - 32768).astype(np.int16)
        rate, back = decode_wav(encode_wav(s, 22050))
        assert rate == 22050 and np.array_equal(back, s)
        # a foreign chunk (LIST) between fmt and data must be skipped
        wav = encode_wav(s, 22050)
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        patched = wav[:12] + extra + wav[12:]
        patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
        rate, back = decode_wav(patched)
        assert rate == 22050 and np.array_equal(back, s)

    def test_spark_decode_path(self, spark):
        from opentelemetry_collector_spark.trainingdata import (
            decode_media, synthesize_coded_media,
        )

        ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
        media = synthesize_coded_media(ids).cache()
        bmp = decode_media(media.filter("kind = 'image'"), codec="bmp")
        png = decode_media(media.filter("kind = 'image_png'"), codec="png")
        wav = decode_media(media.filter("kind = 'audio'"), codec="wav")
        rows = {
            (r["media_id"], r["kind"]): r
            for r in bmp.unionByName(png).unionByName(wav).collect()
        }
        for i in range(12):
            w, h = i % 13 + 4, i % 9 + 3
            r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            gray = (i * 31 + r * 7 + c * 13) % 256
            got = rows[(i, "image")]["pixels"]
            assert len(got) == w * h
            assert np.array_equal(np.array(got), gray.ravel().astype(np.float64))
            # PNG carries the SAME pixel content through a genuinely
            # compressed path (inflate + filter reversal)
            got_png = rows[(i, "image_png")]["pixels"]
            assert np.array_equal(np.array(got_png), gray.ravel().astype(np.float64))
            n = i % 50 + 10
            samples = (i * 7 + np.arange(n) * 11) % 65536 - 32768
            got_a = rows[(i, "audio")]["pixels"]
            assert np.array_equal(np.array(got_a), samples.astype(np.float64))
        media.unpersist()

    def test_png_codec_round_trip_all_filters(self):
        from opentelemetry_collector_spark.trainingdata.multimodal import (
            decode_png, encode_png,
        )

        rng = np.random.RandomState(3)
        for h, w in [(1, 1), (3, 4), (9, 13), (17, 31), (5, 1)]:
            g = rng.randint(0, 256, (h, w)).astype(np.uint8)
            # filter_mix exercises None/Sub/Up/Average/Paeth reversal
            assert np.array_equal(decode_png(encode_png(g)), g)
            assert np.array_equal(decode_png(encode_png(g, filter_mix=False)), g)

    def test_png_decoder_is_strict(self):
        from opentelemetry_collector_spark.trainingdata.multimodal import (
            decode_png, encode_png,
        )

        g = np.arange(12, dtype=np.uint8).reshape(3, 4)
        blob = bytearray(encode_png(g))
        with pytest.raises(ValueError):
            decode_png(b"\x89PNF" + bytes(blob[4:]))  # bad signature
        blob[40] ^= 0xFF  # corrupt a byte inside IDAT → CRC mismatch
        with pytest.raises(ValueError):
            decode_png(bytes(blob))
        # truncation INSIDE a chunk (IDAT header readable, declared
        # length overruns the blob) must raise ValueError too, not
        # leak struct.error from the CRC read. Layout: 8 sig + 25 IHDR
        # + IDAT header at 33; cut 2 bytes into IDAT's data.
        whole = encode_png(g)
        assert whole[37:41] == b"IDAT"
        with pytest.raises(ValueError, match="exceeds payload"):
            decode_png(whole[:43])


class TestAssignSplit:
    @pytest.fixture(scope="class")
    def keyed(self, spark):
        return spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        ).cache()

    def test_split_is_deterministic_and_complete(self, keyed):
        from opentelemetry_collector_spark.trainingdata import assign_split

        from pyspark.sql import functions as F

        fr = {"train": 0.8, "val": 0.1, "test": 0.1}
        a = {r["doc_id"]: r["s"] for r in keyed.select(
            "doc_id", assign_split(F.col("doc_id"), fr).alias("s")).collect()}
        b = {r["doc_id"]: r["s"] for r in keyed.select(
            "doc_id", assign_split(F.col("doc_id"), fr).alias("s")).collect()}
        assert a == b
        counts = {}
        for s in a.values():
            counts[s] = counts.get(s, 0) + 1
        # every doc assigned; fractions roughly honored (md5-uniform)
        assert sum(counts.values()) == 2000
        assert 0.7 < counts["train"] / 2000 < 0.9
        assert 0.05 < counts["val"] / 2000 < 0.15

    def test_growing_val_never_swaps_val_and_test(self, keyed):
        """Boundary-stability: enlarging val only moves the train/val
        boundary — no document ever moves between val and test, so a
        ratio change cannot leak one eval set into the other."""
        from opentelemetry_collector_spark.trainingdata import assign_split

        from pyspark.sql import functions as F

        small = {r["doc_id"]: r["s"] for r in keyed.select(
            "doc_id",
            assign_split(F.col("doc_id"), {"train": 0.89, "val": 0.01, "test": 0.1}).alias("s"),
        ).collect()}
        big = {r["doc_id"]: r["s"] for r in keyed.select(
            "doc_id",
            assign_split(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}).alias("s"),
        ).collect()}
        for k in small:
            if small[k] == "test":
                assert big[k] == "test", k      # test set frozen
            if small[k] == "val":
                assert big[k] == "val", k       # val only grows
            if big[k] == "val" and small[k] != "val":
                assert small[k] == "train", k   # growth came from train

    def test_bad_fractions_rejected(self, keyed):
        from opentelemetry_collector_spark.trainingdata import assign_split

        from pyspark.sql import functions as F

        with pytest.raises(ValueError):
            assign_split(F.col("doc_id"), {"a": 0.9, "b": 0.2})
        with pytest.raises(ValueError):
            assign_split(F.col("doc_id"), {})

    def test_bucket_matches_reference_md5(self, spark):
        from opentelemetry_collector_spark.trainingdata import split_bucket

        import hashlib

        from pyspark.sql import functions as F

        rows = spark.createDataFrame(
            [("doc-1",), ("x",), ("42",)], "k string"
        ).select("k", split_bucket(F.col("k")).alias("b")).collect()
        for r in rows:
            want = int(hashlib.md5(r["k"].encode()).hexdigest()[:8], 16) % 10_000
            assert r["b"] == want, r


class TestConnectedComponents:
    # slow lane: large-star/small-star iteration corpora; td_dup_components driver row re-verifies
    pytestmark = pytest.mark.slow
    @staticmethod
    def _union_find(n_nodes, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {x: find(x) for x in parent}

    def _check(self, spark, edges):
        from opentelemetry_collector_spark.trainingdata import connected_components

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        want = self._union_find(0, [e for e in edges if e[0] != e[1]])
        assert got == want

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        rng = random.Random(4242)
        edges = [
            (rng.randrange(300), rng.randrange(300)) for _ in range(220)
        ]
        self._check(spark, edges)

    def test_long_chain_converges(self, spark):
        # worst-case diameter for min-propagation; the star algorithm
        # must still converge in O(log^2 n) alternating rounds
        self._check(spark, [(i, i + 1) for i in range(60)])

    def test_string_ids_supported_min_is_lexicographic(self, spark):
        from opentelemetry_collector_spark.trainingdata import (
            connected_components,
        )

        edges = [
            ("doc-b", "doc-a"), ("doc-a", "doc-c"),  # comp min doc-a
            ("x2", "x10"),                            # lexicographic: x10 < x2
            ("solo-loop", "solo-loop"),
        ]
        df = spark.createDataFrame(edges, "id_a string, id_b string")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == {
            "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
            "x2": "x10", "x10": "x10",
        }

    def test_string_id_survivors_drop_duplicates(self, spark):
        from opentelemetry_collector_spark.trainingdata import (
            near_dup_survivors,
        )

        docs = spark.createDataFrame(
            [("d1", "x"), ("d2", "x"), ("d3", "y"), ("d4", "z")],
            "doc_id string, text string",
        )
        pairs = spark.createDataFrame(
            [("d1", "d2")], "id_a string, id_b string"
        )
        kept = {r["doc_id"] for r in near_dup_survivors(docs, pairs).collect()}
        assert kept == {"d1", "d3", "d4"}

    def test_disjoint_cliques_and_duplicates(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (1, 2), (2, 1), (5, 5)]
        self._check(spark, edges)

    def test_empty_edges(self, spark):
        from opentelemetry_collector_spark.trainingdata import connected_components

        df = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(df).count() == 0

    def test_near_dup_survivors_keeps_component_minimum(self, spark):
        from opentelemetry_collector_spark.trainingdata import near_dup_survivors

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
        )
        # components {1,2,3} and {7,8}; 0,4,5,6,9 untouched
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"] for r in near_dup_survivors(docs, pairs).collect()
        )
        assert kept == [0, 1, 4, 5, 6, 7, 9]

    def test_each_node_labelled_once_with_component_min(self, spark):
        from opentelemetry_collector_spark.trainingdata import connected_components

        df = spark.createDataFrame(
            [(7, 3), (3, 9), (20, 21)], "id_a long, id_b long"
        )
        rows = connected_components(df).collect()
        nodes = [r["node"] for r in rows]
        assert sorted(nodes) == [3, 7, 9, 20, 21]      # exactly once each
        comp = {r["node"]: r["component"] for r in rows}
        assert comp == {3: 3, 7: 3, 9: 3, 20: 20, 21: 20}


class TestStratifiedSample:
    @pytest.fixture(scope="class")
    def strat_df(self, spark):
        rows = [(i, ["en", "de", "fr", "es"][i % 4]) for i in range(2000)]
        return spark.createDataFrame(rows, "doc_id long, lang string").cache()

    def test_deterministic_and_fraction_sized(self, strat_df):
        from opentelemetry_collector_spark.trainingdata import stratified_sample

        fr = {"en": 0.5, "de": 0.2}
        a = sorted(
            (r["doc_id"], r["lang"])
            for r in stratified_sample(strat_df, fr, "lang", "doc_id").collect()
        )
        b = sorted(
            (r["doc_id"], r["lang"])
            for r in stratified_sample(strat_df, fr, "lang", "doc_id").collect()
        )
        assert a == b
        by_lang = {}
        for _, lang in a:
            by_lang[lang] = by_lang.get(lang, 0) + 1
        assert set(by_lang) == {"en", "de"}           # absent strata dropped
        assert 0.4 < by_lang["en"] / 500 < 0.6
        assert 0.1 < by_lang["de"] / 500 < 0.3

    def test_growing_fraction_only_adds_rows(self, strat_df):
        from opentelemetry_collector_spark.trainingdata import stratified_sample

        small = {
            r["doc_id"]
            for r in stratified_sample(strat_df, {"en": 0.2}, "lang", "doc_id").collect()
        }
        big = {
            r["doc_id"]
            for r in stratified_sample(strat_df, {"en": 0.5}, "lang", "doc_id").collect()
        }
        assert small <= big                            # bucket-space prefix

    def test_salt_decorrelates(self, strat_df):
        from opentelemetry_collector_spark.trainingdata import stratified_sample

        base = {
            r["doc_id"]
            for r in stratified_sample(strat_df, {"en": 0.5}, "lang", "doc_id").collect()
        }
        salted = {
            r["doc_id"]
            for r in stratified_sample(
                strat_df, {"en": 0.5}, "lang", "doc_id", salt="|v2"
            ).collect()
        }
        assert salted != base
        # ~independent draws: overlap near 25% of the stratum, far from
        # 0% (disjoint) and 50% (identical)
        overlap = len(base & salted) / 500
        assert 0.1 < overlap < 0.4

    def test_matches_reference_md5(self, strat_df):
        import hashlib

        from opentelemetry_collector_spark.trainingdata import stratified_sample

        kept = {
            r["doc_id"]
            for r in stratified_sample(
                strat_df, {"en": 0.3}, "lang", "doc_id", salt="|x"
            ).collect()
        }
        want = {
            i
            for i in range(0, 2000, 4)  # lang == "en"
            if int(hashlib.md5(f"{i}|x".encode()).hexdigest()[:8], 16) % 10_000 < 3000
        }
        assert kept == want

    def test_bad_fraction_rejected(self, strat_df):
        from opentelemetry_collector_spark.trainingdata import stratified_sample

        with pytest.raises(ValueError):
            stratified_sample(strat_df, {"en": 1.5}, "lang", "doc_id")
        with pytest.raises(ValueError):
            stratified_sample(strat_df, {}, "lang", "doc_id")


def py_budget_keep(rows, budgets, n_buckets=10_000, salt=""):
    """Pure-python mirror of sample_to_token_budget: greedy md5-bucket
    prefix per group while the running weight total stays <= budget;
    groups absent from a dict spec are kept in full."""
    import hashlib
    from collections import defaultdict
    from itertools import groupby

    def bucket(k):
        h = hashlib.md5(f"{k}{salt}".encode()).hexdigest()[:8]
        return int(h, 16) % n_buckets

    by = defaultdict(list)
    for did, grp, w in rows:
        by[grp].append((bucket(did), did, w))
    kept = set()
    for grp, items in by.items():
        budget = budgets if isinstance(budgets, int) else budgets.get(grp)
        if budget is None:
            kept |= {d for _, d, _ in items}
            continue
        items.sort()
        cum, cut = 0, -1
        for b, chunk in groupby(items, key=lambda t: t[0]):
            cum += sum(w for _, _, w in chunk)
            if cum <= budget:
                cut = b
            else:
                break
        kept |= {d for b, d, _ in items if b <= cut}
    return kept


class TestTokenBudget:
    @pytest.fixture(scope="class")
    def mix_rows(self):
        return [(i, ["en", "de", "fr"][i % 3], i % 7 + 1) for i in range(600)]

    @pytest.fixture(scope="class")
    def mix_df(self, spark, mix_rows):
        return spark.createDataFrame(
            mix_rows, "doc_id long, lang string, tok long"
        ).cache()

    def test_matches_python_golden_and_caps(self, mix_df, mix_rows):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        budgets = {"en": 300, "de": 150}
        kept = sample_to_token_budget(
            mix_df, budgets, "lang", "doc_id", "tok"
        ).collect()
        got = {r["doc_id"] for r in kept}
        assert got == py_budget_keep(mix_rows, budgets)
        totals = {}
        for r in kept:
            totals[r["lang"]] = totals.get(r["lang"], 0) + r["tok"]
        assert totals["en"] <= 300 and totals["de"] <= 150
        # fr is absent from the spec: a cap, not a whitelist
        assert totals["fr"] == sum(w for _, g, w in mix_rows if g == "fr")

    def test_growing_budget_only_adds(self, mix_df):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        small = {
            r["doc_id"]
            for r in sample_to_token_budget(
                mix_df, {"en": 200}, "lang", "doc_id", "tok"
            ).collect()
        }
        big = {
            r["doc_id"]
            for r in sample_to_token_budget(
                mix_df, {"en": 500}, "lang", "doc_id", "tok"
            ).collect()
        }
        assert small <= big

    def test_zero_budget_drops_group_entirely(self, mix_df):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        langs = {
            r["lang"]
            for r in sample_to_token_budget(
                mix_df, {"en": 0}, "lang", "doc_id", "tok"
            ).collect()
        }
        assert langs == {"de", "fr"}

    def test_int_budget_caps_every_group(self, mix_df, mix_rows):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        kept = sample_to_token_budget(
            mix_df, 250, "lang", "doc_id", "tok"
        ).collect()
        assert {r["doc_id"] for r in kept} == py_budget_keep(mix_rows, 250)
        totals = {}
        for r in kept:
            totals[r["lang"]] = totals.get(r["lang"], 0) + r["tok"]
        assert all(t <= 250 for t in totals.values())

    def test_budget_above_total_keeps_all(self, mix_df, mix_rows):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        n = sample_to_token_budget(
            mix_df, {"en": 10_000_000}, "lang", "doc_id", "tok"
        ).count()
        assert n == len(mix_rows)

    def test_salt_decorrelates_from_unsalted(self, mix_df):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        base = {
            r["doc_id"]
            for r in sample_to_token_budget(
                mix_df, {"en": 300}, "lang", "doc_id", "tok"
            ).collect()
            if r["lang"] == "en"
        }
        salted = {
            r["doc_id"]
            for r in sample_to_token_budget(
                mix_df, {"en": 300}, "lang", "doc_id", "tok", salt="|mix-v2"
            ).collect()
            if r["lang"] == "en"
        }
        assert salted != base

    def test_cutoff_join_is_broadcast(self, mix_df):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        plan = (
            sample_to_token_budget(mix_df, {"en": 300}, "lang", "doc_id", "tok")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan

    def test_bad_spec_rejected(self, mix_df):
        from opentelemetry_collector_spark.trainingdata import sample_to_token_budget

        with pytest.raises(ValueError):
            sample_to_token_budget(mix_df, {}, "lang", "doc_id", "tok")
        with pytest.raises(ValueError):
            sample_to_token_budget(mix_df, {"en": -1}, "lang", "doc_id", "tok")
        with pytest.raises(ValueError):
            sample_to_token_budget(mix_df, -5, "lang", "doc_id", "tok")


def py_training_order(keys, seed="", n_shards=8):
    """Pure-python mirror of shuffle_for_training's (shard, pos)."""
    import hashlib
    from collections import defaultdict

    coords = {}
    by_shard = defaultdict(list)
    for k in keys:
        h = hashlib.md5(f"{k}{seed}".encode()).hexdigest()
        shard = int(h[:8], 16) % n_shards
        by_shard[shard].append((int(h[8:23], 16), str(k), k))
    for shard, items in by_shard.items():
        for pos, (_, _, k) in enumerate(sorted(items), start=1):
            coords[k] = (shard, pos)
    return coords


class TestShuffleForTraining:
    @pytest.fixture(scope="class")
    def keys_df(self, spark):
        return spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(500)], "doc_id long, text string"
        ).cache()

    def test_matches_python_golden(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        got = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_for_training(
                keys_df, "doc_id", seed="|epoch-0", n_shards=8
            ).collect()
        }
        assert got == py_training_order(range(500), seed="|epoch-0", n_shards=8)

    def test_deterministic_across_runs_and_partitionings(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        a = {
            (r["doc_id"], r["shard"], r["pos"])
            for r in shuffle_for_training(keys_df, "doc_id", n_shards=8).collect()
        }
        b = {
            (r["doc_id"], r["shard"], r["pos"])
            for r in shuffle_for_training(
                keys_df.repartition(13), "doc_id", n_shards=8
            ).collect()
        }
        assert a == b  # permutation is key-pure, not layout-dependent

    def test_seed_draws_new_permutation(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        e0 = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_for_training(
                keys_df, "doc_id", seed="|epoch-0", n_shards=8
            ).collect()
        }
        e1 = {
            r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_for_training(
                keys_df, "doc_id", seed="|epoch-1", n_shards=8
            ).collect()
        }
        assert e0 != e1
        assert set(e0) == set(e1)  # same corpus, different order

    def test_coordinates_are_a_permutation(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        rows = shuffle_for_training(keys_df, "doc_id", n_shards=8).collect()
        assert len(rows) == 500
        coords = [(r["shard"], r["pos"])for r in rows]
        assert len(set(coords)) == 500  # no coordinate collisions
        by_shard = {}
        for s, p in coords:
            by_shard.setdefault(s, []).append(p)
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1))  # dense 1..n

    def test_one_shuffle_no_global_sort(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        plan = (
            shuffle_for_training(keys_df, "doc_id", n_shards=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # hash repartition on shard, never a range exchange (the
        # global-sort strategy this operator exists to avoid)
        assert "rangepartitioning" not in plan.lower(), plan
        assert plan.lower().count("exchange") <= 2, plan

    def test_bad_shards_rejected(self, keys_df):
        from opentelemetry_collector_spark.trainingdata import shuffle_for_training

        with pytest.raises(ValueError):
            shuffle_for_training(keys_df, "doc_id", n_shards=0)


class TestSimHashLsh:
    def test_near_dups_found_with_hamming(self, docs):
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs

        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_lsh_pairs(docs, max_hamming=3).collect()
        }
        assert pairs.get((0, 2)) == 0  # exact dup
        assert (0, 3) not in pairs     # unrelated

    def test_pigeonhole_recall_guarantee(self, spark, docs):
        """Every pair with hamming <= bands-1 MUST be found by the
        banded join (brute-force cross-check)."""
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs
        from opentelemetry_collector_spark.trainingdata.dedup import (
            hamming_distance, simhash,
        )
        from pyspark.sql import functions as F

        sh = docs.select("doc_id", simhash(F.col("text")).alias("sh"))
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        brute = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("h", hamming_distance(F.col("sa"), F.col("sb")))
            .filter(F.col("h") <= 3)
        )
        want = {(r["id_a"], r["id_b"]) for r in brute.collect()}
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_lsh_pairs(docs, max_hamming=3).collect()
        }
        assert got == want

    def test_rejects_radius_beyond_guarantee(self, docs):
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs

        import pytest as _pytest
        # legacy single-band layout: recall guarantee caps at bands-1
        with _pytest.raises(ValueError, match="bands-1"):
            simhash_lsh_pairs(docs, max_hamming=4, bands=4, blocks=None)
        # the default block scheme supports the same radius (C(6,2)
        # tables) — just builds, no error
        simhash_lsh_pairs(docs, max_hamming=4).schema


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark, docs):
        from opentelemetry_collector_spark.plans.pipeline import salted_two_stage_agg
        from opentelemetry_collector_spark.datagen import make_transcripts_df
        from pyspark.sql import functions as F

        t = make_transcripts_df(spark, n_convs=30, seed=7)
        got = {
            r["conv_id"]: r["n_turns"]
            for r in salted_two_stage_agg(t, buckets=8).collect()
        }
        want = {
            r["conv_id"]: r["count"]
            for r in t.groupBy("conv_id").count().collect()
        }
        assert got == want


class TestIvf:
    # fast lane keeps centroid determinism and the directed end-to-end
    # gate (test_ivf_finds_the_near_dup_cluster); the recall-widening
    # property re-trains centroids twice and is slow. No driver row
    # covers IVF (td_topk runs brute force and hyperplane LSH only).
    def test_centroids_deterministic_and_shaped(self, vectors):
        from opentelemetry_collector_spark.trainingdata import ivf_train_centroids

        c1 = ivf_train_centroids(vectors, k=4, iterations=2)
        c2 = ivf_train_centroids(vectors, k=4, iterations=2)
        assert c1 == c2
        assert len(c1) == 4 and len(c1[0]) == 8

    def test_ivf_finds_the_near_dup_cluster(self, vectors):
        from opentelemetry_collector_spark.trainingdata import (
            ivf_topk, ivf_train_centroids,
        )
        from pyspark.sql import functions as F

        centroids = ivf_train_centroids(vectors, k=4, iterations=3)
        q = [float(x) for x in vectors.filter(F.col("vec_id") == 0).first()["embedding"]]
        got = ivf_topk(vectors, q, centroids, k=3, nprobe=1).collect()
        assert got and got[0]["vec_id"] == 0 and got[0]["cosine"] == 1.0
        # the tight 0/1/2 cluster shares a centroid, so nprobe=1 finds them
        assert {r["vec_id"] for r in got} == {0, 1, 2}

    @pytest.mark.slow
    def test_nprobe_widens_recall(self, vectors):
        from opentelemetry_collector_spark.trainingdata import (
            brute_force_topk, ivf_topk, ivf_train_centroids,
        )
        from pyspark.sql import functions as F

        centroids = ivf_train_centroids(vectors, k=4, iterations=3)
        q = [float(x) for x in vectors.filter(F.col("vec_id") == 5).first()["embedding"]]
        exact = [r["vec_id"] for r in brute_force_topk(vectors, q, k=5).collect()]
        wide = {r["vec_id"] for r in ivf_topk(vectors, q, centroids, k=5, nprobe=4).collect()}
        # probing every cluster == brute force
        assert wide == set(exact)


class TestPerplexityLM:
    """CCNet-style bigram-LM perplexity (trainingdata.lm)."""
    # slow lane: bigram-LM scoring corpora; td_perplexity driver row re-verifies
    pytestmark = pytest.mark.slow

    REF = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat again"),
    ]
    ALL = REF + [
        (2, "zqx glorp fnord blip"),   # fully OOV
        (3, "single"),                  # no bigrams
        (4, ""),                        # empty
        (5, "the cat sat on the mat"),  # exact dup of a ref doc
    ]

    @pytest.fixture()
    def frames(self, spark):
        from opentelemetry_collector_spark.trainingdata import train_bigram_lm

        docs = spark.createDataFrame(self.ALL, ["doc_id", "text"])
        ref = docs.filter(F.col("doc_id") <= 1)
        return docs, train_bigram_lm(ref)

    @staticmethod
    def py_ppl(text: str, ref_texts: list[str]) -> float | None:
        """Independent Python reference of the exact model arithmetic."""
        import math
        from collections import Counter

        from opentelemetry_collector_spark.trainingdata import LM_ALPHA

        a = float(LM_ALPHA)
        uni, big = Counter(), Counter()
        for t in ref_texts:
            toks = t.strip().lower().split()
            uni.update(toks)
            big.update(zip(toks, toks[1:]))
        v = len(uni) + 1
        toks = text.strip().lower().split()
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            return None
        total = 0.0
        for w1, w2 in pairs:
            p = (big[(w1, w2)] + a) / (uni[w1] + a * v)
            total += round(math.log(p), 12)
        return round(math.exp(-total / len(pairs)), 6)

    def test_matches_python_reference(self, frames):
        from opentelemetry_collector_spark.trainingdata import perplexity

        docs, lm = frames
        got = {r["id"]: (r["n_bigrams"], r["ppl"])
               for r in perplexity(docs, lm).collect()}
        ref_texts = [t for _, t in self.REF]
        for doc_id, text in self.ALL:
            toks = text.split()
            want_n = max(len(toks) - 1, 0)
            assert got[doc_id][0] == want_n, doc_id
            assert got[doc_id][1] == self.py_ppl(text, ref_texts), doc_id

    def test_oov_doc_scores_vocab_size(self, frames):
        """Every bigram of a fully-OOV doc has p = 1/V, so its
        perplexity is exactly V — an exact-arithmetic invariant."""
        from opentelemetry_collector_spark.trainingdata import perplexity

        docs, lm = frames
        v = lm["stats"].collect()[0]["v"]
        row = {r["id"]: r for r in perplexity(docs, lm).collect()}[2]
        assert row["ppl"] == float(v)

    def test_in_domain_scores_below_oov(self, frames):
        from opentelemetry_collector_spark.trainingdata import perplexity

        docs, lm = frames
        ppl = {r["id"]: r["ppl"] for r in perplexity(docs, lm).collect()}
        assert ppl[0] < ppl[2] and ppl[5] == ppl[0]

    def test_buckets_and_filter(self, frames):
        from opentelemetry_collector_spark.trainingdata import (
            perplexity_buckets, perplexity_filter,
        )

        docs, lm = frames
        b = {r["id"]: r["bucket"]
             for r in perplexity_buckets(docs, lm, edges=(6.0, 12.0)).collect()}
        assert b[0] == "head" and b[2] == "middle"
        assert b[3] == "unscored" and b[4] == "unscored"
        kept = {r["doc_id"]
                for r in perplexity_filter(docs, lm, 6.0).collect()}
        assert kept == {0, 1, 5}
        with_unscored = {r["doc_id"] for r in perplexity_filter(
            docs, lm, 6.0, keep_unscored=True).collect()}
        assert with_unscored == {0, 1, 3, 4, 5}

    def test_min_count_prunes_bigram_table_only(self, spark):
        """Pruned bigrams fall back to the unseen estimate; unigram
        denominators never shift."""
        from opentelemetry_collector_spark.trainingdata import (
            perplexity, train_bigram_lm,
        )

        docs = spark.createDataFrame(self.ALL, ["doc_id", "text"])
        ref = docs.filter(F.col("doc_id") <= 1)
        full = train_bigram_lm(ref)
        pruned = train_bigram_lm(ref, min_count=2)
        assert pruned["bigrams"].count() < full["bigrams"].count()
        p_full = {r["id"]: r["ppl"] for r in perplexity(docs, full).collect()}
        p_pruned = {r["id"]: r["ppl"] for r in perplexity(docs, pruned).collect()}
        # OOV doc unaffected; the doc holding the pruned singleton
        # bigram ("mat again", count 1) scores worse but stays scored
        assert p_pruned[2] == p_full[2]
        assert p_pruned[1] > p_full[1]

    def test_scoring_plan_broadcasts_the_lm(self, spark, frames):
        """The LM tables must reach the scoring join as broadcasts —
        the corpus side never shuffles on words at 10^12 tokens."""
        from opentelemetry_collector_spark.trainingdata import perplexity

        docs, lm = frames
        plan = perplexity(docs, lm)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan, plan

    def test_random_corpora_match_python(self, spark):
        """Seeded random corpora over a small vocabulary: Spark scores
        must equal the independent Python model doc-for-doc (exercises
        smoothing, OOV mixes, repeated bigrams, and 0/1-token docs)."""
        import random

        from opentelemetry_collector_spark.trainingdata import (
            perplexity, train_bigram_lm,
        )

        rng = random.Random(1234)
        vocab = [f"w{i}" for i in range(12)]
        for corpus_idx in range(3):
            ref_texts = [
                " ".join(rng.choices(vocab, k=rng.randint(2, 30)))
                for _ in range(8)
            ]
            score_texts = [
                " ".join(
                    rng.choices(vocab + ["oovA", "oovB"], k=rng.randint(0, 25))
                )
                for _ in range(12)
            ]
            ref = spark.createDataFrame(
                list(enumerate(ref_texts)), ["doc_id", "text"]
            )
            docs = spark.createDataFrame(
                list(enumerate(score_texts)), ["doc_id", "text"]
            )
            got = {r["id"]: r["ppl"]
                   for r in perplexity(docs, train_bigram_lm(ref)).collect()}
            for i, text in enumerate(score_texts):
                assert got[i] == self.py_ppl(text, ref_texts), (
                    corpus_idx, i, text
                )


class TestSimHashBlockScheme:
    """The combinatorial block layout (default) must return pairs
    IDENTICAL to the legacy single-band layout and to brute force —
    banding only generates candidates; exact hamming verifies — while
    using far wider keys (the scale fix for the n²/256 candidate join
    the sf1 bench exposed).

    Slow lane: three-way randomized equivalence over a 160-doc corpus;
    the fast lane keeps TestSimHashLsh's directed hamming/recall tests
    and the td_simhash driver row pins blocked-layout output values."""

    pytestmark = pytest.mark.slow

    @pytest.fixture(scope="class")
    def near_dup_corpus(self, spark):
        import random

        rng = random.Random(404)
        vocab = [f"w{i}" for i in range(400)]
        rows = []
        for i in range(120):
            base = [rng.choice(vocab) for _ in range(60)]
            rows.append((i * 10, " ".join(base), "s"))
            if i % 3 == 0:  # a near-dup: flip a few tokens
                mut = list(base)
                for _ in range(2):
                    mut[rng.randrange(len(mut))] = rng.choice(vocab)
                rows.append((i * 10 + 1, " ".join(mut), "s"))
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).cache()

    def test_blocked_equals_legacy_equals_brute(self, near_dup_corpus):
        from opentelemetry_collector_spark.trainingdata import (
            simhash_lsh_pairs,
        )
        from opentelemetry_collector_spark.trainingdata.dedup import (
            hamming_distance,
            simhash,
        )

        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_lsh_pairs(
                near_dup_corpus, hot_bucket_limit=None,
            ).collect()
        }
        legacy = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_lsh_pairs(
                near_dup_corpus, hot_bucket_limit=None, blocks=None,
            ).collect()
        }
        assert blocked == legacy
        # brute force: all-pairs hamming over the codes
        sh = near_dup_corpus.select(
            "doc_id", simhash(F.col("text")).alias("sh")
        )
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        brute = {
            (r["id_a"], r["id_b"], r["h"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                hamming_distance(F.col("sa"), F.col("sb")).alias("h"),
            )
            .filter(F.col("h") <= 3)
            .collect()
        }
        assert blocked == brute
        assert brute  # the corpus really has near-dups

    def test_block_layout_covers_all_bits(self):
        from opentelemetry_collector_spark.trainingdata.dedup import (
            _block_layout,
        )

        for bits, blocks in ((32, 6), (64, 6), (32, 4), (17, 5)):
            layout = _block_layout(bits, blocks)
            assert sum(w for _s, w in layout) == bits
            assert layout[0][0] == 0
            for (s1, w1), (s2, _w2) in zip(layout, layout[1:]):
                assert s2 == s1 + w1
            assert max(w for _s, w in layout) - min(w for _s, w in layout) <= 1

    def test_combo_count_and_key_width(self, near_dup_corpus):
        """20 tables for 6 blocks / h=3, and the key space is the
        concatenated block bits (15-17 bits at 32-bit codes) — the
        property that keeps candidate volume collision-bound."""
        from math import comb

        from opentelemetry_collector_spark.trainingdata import (
            simhash_exploded_bands,
        )

        ex = simhash_exploded_bands(near_dup_corpus)
        n_docs = near_dup_corpus.count()
        assert ex.count() == n_docs * comb(6, 3)
        assert ex.agg(F.max("band_idx")).first()[0] == comb(6, 3) - 1
        assert ex.agg(F.max("band_key")).first()[0] < (1 << 17)

    def test_blocks_must_exceed_hamming(self, near_dup_corpus):
        from opentelemetry_collector_spark.trainingdata import (
            simhash_lsh_pairs,
        )

        with pytest.raises(ValueError, match="blocks > max_hamming"):
            simhash_lsh_pairs(
                near_dup_corpus, blocks=3, max_hamming=3,
            ).collect()
