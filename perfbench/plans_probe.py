"""The ``plans`` layer: one pass over the stored log tables.

``events`` (100k rows, the sf0.1 size) and ``documents`` (1k rows) are
generated from the seed with the shapes of the test tables.  The pass runs
each query below through the package's registry and collects its result;
every query has a DuckDB ``oracle_sql``, compared after the pass, untimed.
``documents`` is kept at 1k rows because the ``c9_ngram_jaccard`` oracle is a
quadratic self-join that DuckDB needs minutes for at the sf0.1 size.
"""

from __future__ import annotations

import os
import time

from perfbench import checks

QUERIES = (
    "flagship_event_stats",
    "c7_tumbling_window",
    "c7_session_window",
    "a13_serialize_json_v1",
    "a19_quarantine",
    "c8_exact_dedup",
    "c9_ngram_jaccard",
    "c11_term_frequencies",
    "c16_rolling_zscore",
)
EVENTS, DOCUMENTS, USERS = 100_000, 1_000, 1_500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def write_tables(seed: int, out_dir: str) -> None:
    """Write ``events.parquet`` and ``documents.parquet`` under ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, EVENTS, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, EVENTS)),
            "value": pa.array(np.round(rng.gamma(1.2, 40.0, EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts, langs = [], []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            langs.append(langs[j])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
            langs.append(str(rng.choice(LANGS)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCUMENTS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))


def run(ctx) -> dict[str, float]:
    """Run the pass; return the ``plans.*`` metrics, among them
    ``plans.mismatched``, the number of queries that differ from their oracle."""
    import duckdb

    from logspout_kinesis_tests_spark.plans import all_oracles, all_queries

    tables = ctx.path("tables")
    write_tables(ctx.seed, tables)
    registry = all_queries()
    layers, results = {}, {}
    for name in QUERIES:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"plans.{name}"):
            df = registry[name](ctx.spark, tables)
            rows = df.collect()
        layers[f"plans.{name}_s"] = time.perf_counter() - t0
        layers[f"plans.{name}_rows"] = len(rows)
        results[name] = (df.columns, rows)

    layers["plans.mismatched"] = 0
    with ctx.tracer.span("check.oracles"):
        con = duckdb.connect()
        try:
            for name in ("events", "documents"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables}/{name}.parquet'")
            oracles = all_oracles()
            for name in QUERIES:
                problem = checks.oracle_mismatch(*results[name], con, oracles[name])
                if problem:
                    ctx.log(f"plans: {name} differs from its oracle: {problem}")
                    layers["plans.mismatched"] += 1
        finally:
            con.close()
    return layers
