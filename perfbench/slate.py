"""The operator slate: ten registry operators, one from each family of
the ROADMAP backlog, each run through ``api.queries()`` → noop and
checked against its ``api.oracle_sql()`` twin on DuckDB.

The tables they read (events, documents, embeddings, lineitem, orders,
supplier) are generated here from the seed, in the testdata's shapes at
about sf0.01 (60k lineitem rows), since a checkout carries no testdata.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OPS = ("curate_e2e_pipeline", "stream_near_dedup", "emb_kmeans", "sim_ivfadc_topk",
       "graph_kcore", "text_bpe_encode", "tm_bitemporal_asof", "stream_schema_ddl_replay",
       "source_binlog_partial_json", "tpch_q21")

N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
N_ORDERS = 15_000
N_SUPPLIERS = 100
N_PARTS = 2_000
WORDS = np.array("a the key agg row scan slow fast table value part hash merge batch window "
                 "spark order data column join small big line customer query filter group "
                 "sort stream vector".split())
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
DAY_US = 86_400 * 10**6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def write_tables(seed: int, sf_dir: str) -> None:
    rng = np.random.default_rng(seed + 31337)
    os.makedirs(sf_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    base = 1_704_067_200_000_000  # 2024-01-01
    put("events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(base + np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))),
        "user_id": rng.integers(0, N_EVENTS // 20, N_EVENTS),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.gamma(2.0, 25.0, N_EVENTS), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 100, N_DOCS)]
    langs = np.array(["en", "zh", "de", "es", "fr"])
    put("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    label = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[label] + rng.normal(0, 0.8, (N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label,
    })

    put("supplier", {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2),
    })
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    put("orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, 1_500, N_ORDERS),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1e3, 5e5, N_ORDERS), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, 2_500, N_ORDERS) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)],
    })
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    put("lineitem", {
        "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(day0 + rng.integers(0, 2_500, n) * DAY_US),
    })


def run_pass(spark, sf_dir: str, tracer=None, check=None) -> dict[str, tuple[float, float]]:
    """Build and execute each op once: op → (build_s, exec_s). Build is
    the driver-side call, trainer loops included; exec is the noop
    write. ``check(name, df)``, when given, runs untimed after each op."""
    from replicator_spark import api
    from perfbench.trace import span

    qs = api.queries()
    out = {}
    for name in OPS:
        t0 = time.perf_counter()
        with span(tracer, f"op.{name}.build"):
            df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        with span(tracer, f"op.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        out[name] = (t1 - t0, time.perf_counter() - t1)
        if check is not None:
            check(name, df)
    return out


def oracle_check(sf_dir: str, checks) -> Callable[[str, object], None]:
    """A ``check`` for ``run_pass``: the op's rows equal its
    ``oracle_sql()`` twin on DuckDB over the same tables, compared
    order-insensitively the way ``tools/parity.py`` compares them."""
    import duckdb

    from replicator_spark import api
    from tools.parity import canon

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "lineitem", "orders", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = api.oracle_sql()

    def check(name: str, df) -> None:
        got = canon(df.toPandas())
        exp = canon(con.execute(oracles[name]).fetchdf())
        checks.record(got == exp, f"{name} differs from its oracle_sql twin")

    return check
