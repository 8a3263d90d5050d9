"""Probabilistic (head) sampler with exact reference hash parity.

Reference (processor/samplingprocessor/probabilisticsamplerprocessor/
probabilisticsampler.go):
  * scaled rate = uint32(percentage * 0x4000/100)  (:67)
  * keep iff murmur3_32(traceID bytes, seed) & 0x3FFF < scaled  (:103-112)
  * "sampling.priority" attribute overrides (:135-181): 0 ⇒ always
    drop, >0 ⇒ always keep, parsed from int/double/string; an
    unparseable string or negative value defers to the hash decision.

The murmur3 bucket is the one genuinely non-Catalyst computation
(Spark's ``hash()`` is the same murmur3_32 on 16-byte ids, but only at
its fixed seed 42, and the sampler's seed is configurable), so it runs
as an Arrow-vectorized numpy kernel. The priority parse and the final filter
are plain Catalyst expressions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.mmh3 import (
    PERCENTAGE_SCALE_FACTOR,
    sampler_bucket_udf,
    trace_id_col,
)


def priority_decision(priority: Column) -> Column:
    """Parse a stringified sampling.priority → 'drop' | 'keep' | 'defer'.

    ``try_cast`` yields NULL on garbage (ANSI-safe), matching the
    reference's defer-on-parse-error (probabilisticsampler.go:168-176).
    """
    p = priority.try_cast("double")
    return (
        F.when(p.isNull(), F.lit("defer"))
        .when(p == 0.0, F.lit("drop"))
        .when(p > 0.0, F.lit("keep"))
        .otherwise(F.lit("defer"))
    )


@dataclass
class ProbabilisticSampler:
    sampling_percentage: float
    hash_seed: int = 0
    id_col: str = "conv_id"  # string key; md5 → 16-byte id (TraceID analog)
    priority_attr: str = "sampling.priority"
    attrs_col: str = "attrs"

    @property
    def scaled_sampling_rate(self) -> int:
        return int(self.sampling_percentage * PERCENTAGE_SCALE_FACTOR)

    def keep_predicate(self, df: DataFrame) -> Column:
        bucket = sampler_bucket_udf(self.hash_seed)(trace_id_col(F.col(self.id_col)))
        hash_keep = bucket < F.lit(self.scaled_sampling_rate)
        if self.attrs_col in df.columns:
            prio = F.element_at(F.col(self.attrs_col), self.priority_attr)
            decision = priority_decision(prio)
            return (decision == "keep") | ((decision == "defer") & hash_keep)
        return hash_keep

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.filter(self.keep_predicate(df))
