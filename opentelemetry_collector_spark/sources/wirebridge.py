"""The one Spark surface of the binary wire codecs (OTLP proto, Jaeger
proto and thrift, Zipkin proto and thrift).

Each codec module holds only pure ``bytes ↔ dict`` functions; this
module moves their data across the Python boundary. A decoded message
leaves as one JSON text line per dict, which the codec's JSON receiver
(``otlp_json``, ``jaeger_json``, ``zipkin_json``, ``zipkin_v1_json``)
parses with ``from_json``; an encoder reads the JSON lines its JSON
exporter wrote. Both directions are Arrow-batched ``mapInPandas``, one
Python map node each, so the text format of the hop is decided here
and nowhere else."""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def decode_blobs(
    df: DataFrame,
    bin_col: str,
    decode: Callable[[bytes], Iterable[dict]],
    out_col: str,
) -> DataFrame:
    """Binary blobs in ``bin_col`` → one JSON line per dict that
    ``decode`` yields, in a one-column string frame ``out_col``. NULL
    blobs are skipped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = [
                json.dumps(obj)
                for blob in pdf[bin_col]
                if blob is not None
                for obj in decode(bytes(blob))
            ]
            yield pd.DataFrame({out_col: lines})

    return df.mapInPandas(run, schema=f"{out_col} string")


def encode_lines(
    df: DataFrame,
    json_col: str,
    encode: Callable[[dict], bytes],
    out_col: str,
) -> DataFrame:
    """JSON lines in ``json_col`` → one ``encode``d blob per line, in a
    one-column binary frame ``out_col``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [encode(json.loads(line)) for line in pdf[json_col]]
            yield pd.DataFrame({out_col: blobs})

    return df.mapInPandas(run, schema=f"{out_col} binary")
