"""Seeded benchmark inputs, generated inside the run directory.

The engine's fixtures live outside the repository, so every table a
workload reads is made here from the ``--seed`` argument: the same seed
gives byte-identical inputs. The program under test only ever sees the
written parquet files and config JSON.

- Feed: a synthetic city (``sources.docs.CitySpec``) written as an
  interleaved docs parquet table plus the CLI config pointing at it.
- Query mix: the three tables the geo and text queries read (``customer``,
  ``supplier``, ``documents``), with the columns and value
  shapes measured once from the sf0.1 fixture (see TESTDATA.md). The
  measured figures sit beside the constants that copy them. The row
  counts are not the fixture's: they are chosen to fit the benchmark's
  run budget (see README.md).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

AGENCY = {
    "agency_id": "B",
    "agency_name": "Bench",
    "agency_url": "https://example.org",
    "agency_timezone": "UTC",
}
FEED_INFO = {"start_date": "20240101", "end_date": "20241231"}

# Measured on sf0.1 (customer 15,000 rows, supplier 1,000, documents
# 5,000). Nation keys: uniform over 25 (559-642
# customers per key). Account balances: uniform over [-999.99, 9999.99].
# Market segments: uniform over five (2,932-3,045 each).
_NATIONS = 25
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# Documents: words drawn uniformly from this 30-word vocabulary (8,829-
# 9,182 uses each); 10 to 100 words per document, uniformly (deciles 19,
# 32, 54, 76, 90). 5% of documents (250) are a copy of another document
# with the word "dup" appended; a copy may itself be copied. No document
# holds an e-mail address or an IP address. Languages: en 41.2%, zh
# 15.1%, es 14.9%, fr 14.8%, de 14.0%. Source: ``src{doc_id % 20}``.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector "
    "window"
).split()
_WORDS_PER_DOC = (10, 100)
_COPY_SHARE = 0.05
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]


def write_city(spark, spec, path: str) -> None:
    """Write the CitySpec docs table as parquet."""
    from osm2gtfs_spark.sources.docs import docs_df

    docs_df(spark, spec).write.parquet(path)


def write_feed_config(path: str, docs_path: str, out_zip: str, shards: int, cache_dir: str) -> str:
    """A schedule-path docs-parquet CLI config with a checkpoint cache."""
    config = {
        "inputs": {"docs_parquet": docs_path},
        "schedule_source": "docs",
        "cache_dir": cache_dir,
        "stops": {"name_without": "stop"},
        "agency": AGENCY,
        "feed_info": FEED_INFO,
        "output_file": out_zip,
        "sink_shards": shards,
    }
    with open(path, "w") as f:
        json.dump(config, f, indent=1)
    return path


def _write(pdf: pd.DataFrame, sf_dir: str, name: str) -> None:
    pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def write_mix_tables(sf_dir: str, seed: int, n_customers: int, n_suppliers: int,
                     n_docs: int) -> None:
    os.makedirs(sf_dir)
    _geo_tables(sf_dir, np.random.default_rng([seed, 1]), n_customers, n_suppliers)
    _documents(sf_dir, np.random.default_rng([seed, 2]), n_docs)


def _geo_tables(sf_dir: str, rng, n_customers: int, n_suppliers: int) -> None:
    """``customer`` and ``supplier``; the geo queries derive coordinates
    from the integer keys (``sources.tpch.derived_lat/lon``)."""
    ck = np.arange(n_customers, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, _NATIONS, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_customers),
    }), sf_dir, "customer")
    sk = np.arange(n_suppliers, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, _NATIONS, n_suppliers).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_suppliers), 2),
    }), sf_dir, "supplier")


def _documents(sf_dir: str, rng, n_docs: int) -> None:
    """``documents``: random sentences over the fixture vocabulary, 5% of
    them near-copies."""
    lo, hi = _WORDS_PER_DOC
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(lo, hi + 1)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, round(n_docs * _COPY_SHARE), replace=False):
        j = (int(i) + int(rng.integers(1, n_docs))) % n_docs  # any other document
        texts[i] = texts[j] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    _write(pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), sf_dir, "documents")
