"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

Execution is forced through the noop sink (full materialization of
every column, no count-only column pruning shortcut, no disk write
cost), so timings reflect the real operator work.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Round-over-round comparability note: in round 4 `dedup_exact` and
# `td_simhash` became CONSOLIDATED matrix queries (each absorbed a
# second formerly-separate driver row — survivors / near-dup pairs —
# under the 50-row correctness budget), `agg_window_5min` grew into
# `rollup_multires` (the 5-min aggregation is now the finest level of
# a 3-level rollup cascade), and `asof_attribution` /
# `range_session_errors` are new queries — so r4+ suite totals cover
# strictly more work than r3; `query_cpu_secs` shows the corresponding
# CPU increase is real work, not regression.
#
# Round 5: `rollup_multires` additionally computes an exact-distinct
# cascade (collect_set/set-union) and joins a 3-level DDSketch
# percentile cascade (p50/p95/p99) — ~3x its r4 wall at sf0.1, all of
# it new work with its own oracle columns; `asof_attribution` runs the
# two-phase bucketed (hot-key-safe) as-of variant; `td_simhash`
# switches to the combinatorial block candidate layout (same result
# set, scale-safe candidates — see the sf1 block for why).
BENCH_QUERIES = [
    "pipeline_errors_agg",
    "pipeline_routed_rows",
    "route_fanout_counts",
    "rollup_multires",
    "enrich_broadcast_region",
    # r5: sampler_matrix = sampler_murmur3 + the priority-override arm
    # (consolidated; strictly more work than the old sampler_murmur3 line)
    "sampler_matrix",
    "dedup_exact",
    "tpch_q1",
    "td_minhash_lsh_pairs",
    "td_simhash",
    "td_topk",
    "td_media_features",
    "session_windows",
    "trace_summaries",
    "td_salted_conv_counts",
    "td_decontam",
    "td_chunk_dedup",
    "asof_attribution",
    "range_session_errors",
    # r5: hostmetrics scrape wire (new operator — render + 8-scraper parse)
    "hostmetrics_scrape",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_sf1_leg(spark, QUERIES, meter) -> dict | None:
    """The sf1 (10×) leg. Gated to the sf0.1 driver default (no
    double-scaling); opt out with SPARK_GRAFT_SF1=0. Returns None when
    gated off, the sf1 block dict otherwise."""
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") == "0"
        or os.path.basename(SF_DIR.rstrip("/")) != "sf0.1"
    ):
        return None
    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from make_sf1 import ensure_sf1

    sf1_dir = ensure_sf1(
        spark,
        SF_DIR,
        os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"),
    )

    # td_simhash_production replaces the driver query's UNCAPPED
    # simhash here: the query disables the hot-bucket cap so its
    # brute-force oracle is exact, but uncapped pair-LISTING is
    # inherently quadratic in near-code cluster size (at 10× this
    # corpus: 317M candidates — measured round 5), which is why
    # the production default caps buckets. The sf1 leg measures
    # what a user runs at scale: defaults (blocked layout +
    # DEFAULT_SIMHASH_BUCKET_LIMIT).
    def _simhash_production(spark, sf_dir):
        from opentelemetry_collector_spark.sources.tables import read_table
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs

        return simhash_lsh_pairs(read_table(spark, sf_dir, "documents"))

    # same rationale for minhash: the driver query keeps the
    # DuckDB-reproducible rolling hash for oracle parity, but the
    # 100 TB path is xxhash64 — measure both at 10× so the
    # oracle-vs-production CPU gap is on the record at scale.
    def _minhash_production(spark, sf_dir):
        from opentelemetry_collector_spark.sources.tables import read_table
        from opentelemetry_collector_spark.trainingdata import (
            minhash_lsh_pairs,
            production_hash,
        )

        return minhash_lsh_pairs(
            read_table(spark, sf_dir, "documents"), hash_fn=production_hash
        )

    # and for decontam: grams cross the broadcast as xxhash64
    # longs (hash_grams=True) instead of the oracle's strings
    def _decontam_production(spark, sf_dir):
        from opentelemetry_collector_spark.plans.trainingdata_queries import (
            _register,
        )
        from opentelemetry_collector_spark.trainingdata import (
            contamination,
            split_bucket,
        )
        from opentelemetry_collector_spark.trainingdata.dedup import MINHASH_K
        from pyspark.sql import functions as F

        _register(spark, sf_dir, "documents")
        d = spark.table("documents")
        bucket = split_bucket(F.col("doc_id"))
        return contamination(
            d.filter(bucket < 9800),
            d.filter(bucket >= 9800),
            n=MINHASH_K,
            hash_grams=True,
        )

    sf1_queries = [
        ("pipeline_errors_agg", QUERIES["pipeline_errors_agg"]),
        ("rollup_multires", QUERIES["rollup_multires"]),
        ("td_minhash_lsh_pairs", QUERIES["td_minhash_lsh_pairs"]),
        ("td_minhash_production", _minhash_production),
        ("td_simhash_production", _simhash_production),
        ("td_decontam", QUERIES["td_decontam"]),
        ("td_decontam_production", _decontam_production),
    ]
    sf1_t: dict[str, float] = {}
    sf1_cpu: dict[str, float] = {}
    sf1_ext = 0.0
    # the suite dodges co-tenant bursts by taking the best CLEAN of 3
    # attempts; a single-shot sf1 query has no such escape and its
    # minutes-long window WILL catch ambient noise (observed: three
    # consecutive runs, suite ext<=0.03, sf1 leg ext 0.17-0.22).
    # Retry once only when the first attempt reads contaminated — a
    # clean window costs one attempt, a noisy one two — and pick the
    # clean attempt, else min-by-sec.
    for name, fn in sf1_queries:
        attempts = []
        for _ in range(2):
            meter.start()
            force(fn(spark, sf1_dir))
            attempts.append(meter.stop())
            if attempts[-1]["ext_frac"] <= 0.10:
                break
        clean = [a for a in attempts if a["ext_frac"] <= 0.10]
        a = min(clean or attempts, key=lambda x: x["sec"])
        sf1_t[name] = round(a["sec"], 3)
        sf1_cpu[name] = round(a["self_cpu_secs"], 2)
        sf1_ext = max(sf1_ext, a["ext_frac"])
    return {
        "sf": 1.0,
        "queries": sf1_t,
        "query_cpu_secs": sf1_cpu,
        "total_sec": round(sum(sf1_t.values()), 3),
        "max_external_cpu_frac": round(sf1_ext, 4),
    }


def main() -> None:
    from opentelemetry_collector_spark.hostacct import SectionMeter
    from opentelemetry_collector_spark.session import get_spark
    from opentelemetry_collector_spark.plans.entry_queries import QUERIES

    spark = get_spark(app_name="bench", cpus=CPUS, shuffle_partitions=CPUS)

    # warm up the JVM/Arrow paths once so per-query numbers are steady
    force(QUERIES["pipeline_errors_agg"](spark, SF_DIR).limit(1))

    # CONTENTION GUARD (round-2 lesson: a contended window published a
    # phantom 26% suite regression): meter external CPU per query; a
    # query whose window saw externals burn >10% of the host's core
    # budget is retried once and the cleaner attempt kept. Residually
    # contended queries are flagged so round-over-round BENCH files
    # are comparable — or discountable — by rule, not argument.
    meter = SectionMeter()  # bench is unpinned → budget = all cores
    timings: dict[str, float] = {}
    cpu_secs: dict[str, float] = {}
    contended: list[str] = []
    ext_max = 0.0

    for name in BENCH_QUERIES:
        # ALWAYS two attempts, keep the faster (third if an attempt
        # saw guest-visible contention). Interference is strictly
        # additive — the same plan on the same input can only be
        # slowed by a noisy neighbour, never sped up — so min-of-N is
        # the robust estimator for the CODE's cost under noise the
        # ext_frac meter can't see (hypervisor-level steal / DRAM-bus
        # pressure, the same blindness the cluster campaign's
        # CPU-floor rule exists for). Measured: suite wall varied
        # 41-59s across back-to-back single-attempt runs with
        # ext_frac < 0.01 throughout.
        attempts = []
        for _ in range(3):
            meter.start()
            force(QUERIES[name](spark, SF_DIR))
            attempts.append(meter.stop())
            if sum(a["ext_frac"] <= 0.10 for a in attempts) >= 2:
                break
        # best = fastest CLEAN attempt (ext_frac <= 0.10); only when no
        # attempt is clean does min-by-sec alone decide. A contended
        # attempt that happens to be fastest must not become the
        # published number — that would bias timings downward vs the
        # cleanest-attempt methodology the earlier rounds used.
        clean = [a for a in attempts if a["ext_frac"] <= 0.10]
        best = min(clean or attempts, key=lambda a: a["sec"])
        if not clean:
            contended.append(name)
        ext_max = max(ext_max, best["ext_frac"])
        timings[name] = round(best["sec"], 3)
        # self CPU-seconds: the steal-robust work metric. Hypervisor-
        # level interference (invisible to guest /proc — the campaign's
        # CPU-invariant rule exists for the same reason) inflates WALL
        # time while the work's CPU-seconds stay ~constant, so a
        # round-over-round wall regression with matching CPU is
        # environment, not code.
        cpu_secs[name] = round(best["self_cpu_secs"], 2)

    # production-hash MinHash (xxhash64 — the 100 TB path; the suite
    # keeps the oracle-parity rolling hash so bench == correctness
    # plan): reported separately, NOT added to the suite total
    from opentelemetry_collector_spark.sources.tables import read_table
    from opentelemetry_collector_spark.trainingdata import (
        minhash_lsh_pairs,
        production_hash,
    )

    docs = read_table(spark, SF_DIR, "documents")
    xx_attempts = []
    for _ in range(2):  # same min-of-2 estimator as the suite
        meter.start()
        force(minhash_lsh_pairs(docs, hash_fn=production_hash))
        xx_attempts.append(meter.stop())
    xx_clean = [a for a in xx_attempts if a["ext_frac"] <= 0.10]
    m = min(xx_clean or xx_attempts, key=lambda a: a["sec"])
    if not xx_clean:
        contended.append("minhash_xxhash")
    # published timing => its external burn counts toward the
    # reported max even below the contention threshold
    ext_max = max(ext_max, m["ext_frac"])
    minhash_xxhash_sec = round(m["sec"], 3)

    # ---- sf1 leg (round-4 verdict item 4): the 5 most expensive
    # queries at 10× data, so plan-level regressions that sf0.1's
    # 0.3–2 s timings can't expose become measurable. Data is the
    # deterministic 10-copy synthesis of SF_DIR (tools/make_sf1.py —
    # token-shuffled copies keep the organic near-dup rate). One timed
    # pass per query (these run 10-60× longer than the suite's, so
    # per-query noise is proportionally smaller); ext_frac recorded so
    # a contended pass is flaggable by rule. Opt out with
    # SPARK_GRAFT_SF1=0; auto-skipped when SF_DIR is not the sf0.1
    # driver default (no double-scaling).
    # the sf1 leg is additive evidence: if it breaks (synthesis disk
    # space, a fresh environment, an OOM at 10x) the headline suite
    # line above must still be printed — a missing BENCH record is
    # strictly worse than a missing sf1 block
    sf1_block = None
    try:
        sf1_block = _run_sf1_leg(spark, QUERIES, meter)
    except Exception as e:  # noqa: BLE001 — never lose the suite line
        print(f"sf1 leg failed, recording suite only: {e!r}", file=sys.stderr)
        sf1_block = None

    # throughput of the flagship pipeline: turns/sec through
    # parse→enrich→route→aggregate (turns = input transcript rows)
    n_turns = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    pipeline_sec = timings["pipeline_errors_agg"]
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0)

    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "query_cpu_secs": cpu_secs,
                "sf": sf,
                "cpus": CPUS,
                "pipeline_turns": n_turns,
                "pipeline_turns_per_sec": round(n_turns / pipeline_sec, 1),
                "minhash_xxhash_sec": minhash_xxhash_sec,
                **({"sf1": sf1_block} if sf1_block else {}),
                "contention": {
                    "clean": not contended,
                    "contended_queries": contended,
                    "max_external_cpu_frac": round(ext_max, 4),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
