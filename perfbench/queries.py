"""Curation queries run by the traced invocation: a fixed subset of
``plans.queries.QUERIES`` over small seeded tables shaped like the repo's
testdata (TESTDATA.md), each checked against its DuckDB oracle
(order-insensitive, as in tests/test_oracle_parity.py) and then timed
once, warm, into the noop sink.

The subset is the operators that ROADMAP direction 4 and its carried
items change: the SemDeDup kernel, the DSIR and CCNet LM fits, the
eval-leak counts, PSL domains, Gopher repetition and revenue_by_flag.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NAMES = (
    "semantic_dedup_docs",
    "dsir_scores",
    "ccnet_lm_ppl",
    "eval_leak_report",
    "psl_domains",
    "gopher_repetition_flags",
    "revenue_by_flag",
)
TABLES = ("documents", "embeddings", "lineitem")
N_DOCS, N_VECS, N_LINES = 1000, 500, 60_000
# the documents vocabulary of the testdata tables
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)


def make_tables(seed: int, work: str) -> str:
    """Write documents / embeddings / lineitem for `seed`; returns the
    table dir. Its basename is sf0.01 because the SemDeDup oracle SQL reads
    the assignment view the query writes under that name."""
    rng = np.random.default_rng([seed, 104729])
    d = os.path.join(work, "tables", "sf0.01")
    os.makedirs(d)
    texts = [" ".join(rng.choice(VOCAB, size=n)) for n in rng.integers(10, 101, N_DOCS)]
    pq.write_table(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], N_DOCS,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(d, "documents.parquet"))
    vecs = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    }), os.path.join(d, "embeddings.parquet"))
    n = N_LINES
    ship = pd.Timestamp("1995-01-01") + pd.to_timedelta(rng.integers(0, 2500, n), unit="D")
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ship.astype("datetime64[us]"),
    }), os.path.join(d, "lineitem.parquet"))
    return d


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(4)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(spark, sf_dir: str) -> list[str]:
    """Run every query once and compare it with its DuckDB oracle."""
    import duckdb

    from name_deduplication_python_spark.plans.queries import ORACLES, QUERIES

    errors = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in NAMES:
            got = _canon(QUERIES[name](spark, sf_dir).toPandas())
            want = _canon(con.execute(ORACLES[name]).df())
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-4)
            except AssertionError as e:
                errors.append(f"{name} differs from its oracle: {str(e)[:200]}")
    finally:
        con.close()
    return errors


def timed(spark, sf_dir: str, span) -> dict[str, float]:
    """Each query once into the noop sink inside span(queries.<name>)."""
    from name_deduplication_python_spark.plans.queries import QUERIES

    walls = {}
    for name in NAMES:
        t0 = time.perf_counter()
        with span(f"queries.{name}"):
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
    return walls
