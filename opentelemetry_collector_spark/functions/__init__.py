from .hashing import sha1_string, sha1_long_le, sha1_double_le, sha1_bool
from .mmh3 import murmur3_32, sampler_bucket_udf
from .parse import named_groups, extract_named_groups, extract_arrow_udf

__all__ = [
    "sha1_string",
    "sha1_long_le",
    "sha1_double_le",
    "sha1_bool",
    "murmur3_32",
    "sampler_bucket_udf",
    "named_groups",
    "extract_named_groups",
    "extract_arrow_udf",
]
