"""Property-based tests (hypothesis) for the order-sensitive CDC
invariants — the reference's golden-state scenarios generalized:
MicrosecondValidationTestImpl (version band + saturation),
SplitTransactionTestImpl (state continuation across batches), and the
DDL-replay registry's consistency under random DDL sequences.
"""

from __future__ import annotations

import pandas as pd
import pytest

from hypothesis import HealthCheck, given, settings, strategies as st


@st.composite
def _txn_batches(draw):
    """A transaction's events split arbitrarily into 1-3 batches."""
    n = draw(st.integers(min_value=1, max_value=40))
    ids = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=10_000),
                min_size=n, max_size=n, unique=True,
            )
        )
    )
    ts = draw(
        st.lists(
            st.integers(min_value=1_600_000_000_000, max_value=1_700_000_000_000),
            min_size=n, max_size=n,
        )
    )
    cuts = sorted(
        draw(st.lists(st.integers(min_value=0, max_value=n), max_size=2))
    )
    bounds = [0] + cuts + [n]
    batches = [
        (ids[a:b], ts[a:b]) for a, b in zip(bounds, bounds[1:]) if b > a
    ]
    return ids, ts, batches


@given(_txn_batches())
@settings(max_examples=50, suppress_health_check=[HealthCheck.too_slow])
def test_txn_assembly_state_is_batch_split_invariant(data):
    """SplitTransactionTestImpl analog: however a transaction's events
    are split across micro-batches, the final assembled summary equals
    the single-batch result."""
    from replicator_spark.streaming.txn_state import _assemble

    ids, ts, batches = data

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.timeout_ts = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ts):
            self.timeout_ts = ts

    def run(batch_list):
        state = FakeState()
        for ids_b, ts_b in batch_list:
            pdf = pd.DataFrame(
                {"event_id": ids_b, "ts_ms": ts_b, "commit_ts_ms": ts_b}
            )
            emitted = list(_assemble((7,), iter([pdf]), state))
            # data batches buffer, never emit (emit-on-close contract)
            assert emitted == []
        # watermark passes the txn boundary → timeout callback emits once
        state.hasTimedOut = True
        out = list(_assemble((7,), iter([]), state))
        assert len(out) == 1 and not state.exists  # emitted and cleared
        return out[0].iloc[0].tolist()

    assert run(batches) == run([(ids, ts)])


@pytest.mark.slow  # Spark-backed: full-suite seal only (see conftest)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),          # user key
            st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
            st.one_of(st.none(), st.floats(
                allow_nan=False, allow_infinity=False,
                min_value=-1e6, max_value=1e6)),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_net_effect_collapse_matches_model(spark, muts):
    """For ANY per-key mutation run, the collapsed feed must equal the
    first-op/last-op rule: INSERT→…→DELETE vanishes, last DELETE wins,
    leading INSERT keeps INSERT, everything else nets to UPDATE with
    the final image."""
    from pyspark.sql import functions as F  # noqa: F401

    from replicator_spark.cdc.apply import NULL_SENTINEL, net_effect_from

    rows = [
        (uid, op, 1000 + i, i, val)
        for i, (uid, op, val) in enumerate(muts)
    ]
    feed = spark.createDataFrame(
        rows,
        "user_id long, op string, ts_ms long, event_id long,"
        " value_after double",
    )
    def _v(s):
        # Spark and Python format doubles differently ('1E-5' vs
        # '1e-05'); the contract is the VALUE, not the rendering
        return s if s == NULL_SENTINEL else float(s)

    got = {
        r["user_id"]: (r["net_op"], _v(r["value"]), r["n_collapsed"])
        for r in net_effect_from(feed).collect()
    }
    runs: dict[int, list] = {}
    for uid, op, ts, eid, val in rows:
        runs.setdefault(uid, []).append((ts, eid, op, val))
    model = {}
    for uid, rs in runs.items():
        rs.sort()
        first, last = rs[0][2], rs[-1][2]
        if first == "INSERT" and last == "DELETE":
            continue
        net = (
            "DELETE" if last == "DELETE"
            else "INSERT" if first == "INSERT" else "UPDATE"
        )
        v = (
            NULL_SENTINEL if net == "DELETE"
            else (rs[-1][3] if rs[-1][3] is not None else NULL_SENTINEL)
        )
        model[uid] = (net, v, len(rs))
    assert got == model


@pytest.mark.slow  # Spark-backed: full-suite seal only (see conftest)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),   # commit second
            st.integers(min_value=1, max_value=60),    # changes to one row
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_micro_organizer_band_and_saturation(spark, txns):
    """MicrosecondValidationTestImpl generalized: for every (table,
    rowkey, txn) the versions start at commit_µs − 50, step by 1, and
    saturate at commit_µs; ordering within the txn follows event order.
    """
    from pyspark.sql import functions as F

    from replicator_spark.cdc.transactions import (
        VERSION_SPAN_US,
        organized_feed_from,
    )

    rows = []
    eid = 0
    for i, (sec, n_changes) in enumerate(txns):
        for _ in range(n_changes):
            eid += 1
            rows.append(
                (
                    eid,
                    "INSERT",
                    "testdb",
                    "users_202401",
                    sec * 1000,
                    1,  # same user → same rowkey
                    1000 + i,  # txn id
                    float(eid),
                    None,
                    sec * 1000,
                )
            )
    feed = spark.createDataFrame(
        rows,
        "event_id long, op string, db string, table_name string, "
        "ts_ms long, user_id long, txn_xid long, value_after double, "
        "props_after string, commit_ts_ms long",
    )
    out = organized_feed_from(feed).select(
        "txn_xid", "event_id", "commit_ts_ms", "version_us"
    ).collect()
    by_txn: dict[int, list] = {}
    for r in out:
        by_txn.setdefault(r["txn_xid"], []).append(r)
    for txn_rows in by_txn.values():
        txn_rows.sort(key=lambda r: r["event_id"])
        first = txn_rows[0]["version_us"]
        commit_us = txn_rows[0]["commit_ts_ms"] * 1000
        # first version sits at commit_µs + txn_seq*100 − 50 for some
        # non-negative per-second txn sequence
        assert (first - (commit_us - VERSION_SPAN_US)) % 100 == 0
        assert first >= commit_us - VERSION_SPAN_US
        for k, r in enumerate(txn_rows):
            # offset from the first version: +1 per change, saturating
            # at the span (RowTimestampOrganizer.java:78-89)
            assert r["version_us"] - first == min(k, VERSION_SPAN_US)


@given(
    st.lists(
        st.sampled_from(["add", "drop", "modify"]),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=50)
def test_registry_replay_consistency(ops):
    """Random DDL sequences: the registry never loses the table, the
    column count follows the op algebra, and every op appends exactly
    one history row."""
    from replicator_spark.streaming.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.apply_ddl("CREATE TABLE t (c0 int)")
    cols = ["c0"]
    next_id = 1
    for op in ops:
        if op == "add":
            reg.apply_ddl(f"ALTER TABLE t ADD COLUMN c{next_id} int")
            cols.append(f"c{next_id}")
            next_id += 1
        elif op == "drop" and len(cols) > 1:
            victim = cols.pop()
            reg.apply_ddl(f"ALTER TABLE t DROP COLUMN {victim}")
        elif op == "modify":
            reg.apply_ddl(f"ALTER TABLE t MODIFY COLUMN {cols[0]} varchar")
    schema = reg.get("t")
    assert schema is not None
    assert [f.name for f in schema.fields] == cols
    assert len(reg.history) == reg.version


@pytest.mark.slow  # Spark-backed: full-suite seal only (see conftest)
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        max_size=14,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, edge_list):
    """Spark min-label propagation == plain union-find on random small
    graphs (nodes 0..11, self-loops and duplicates included)."""
    from pyspark.sql import Row

    from replicator_spark.pipeline.cluster import connected_components

    nodes = list(range(12))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}
    ndf = spark.createDataFrame([Row(doc_id=n) for n in nodes])
    if edge_list:
        edf = spark.createDataFrame(
            [Row(doc_a=a, doc_b=b) for a, b in edge_list]
        )
    else:
        edf = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["label"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == expected


@st.composite
def _gtid_ranges(draw):
    """Random disjoint acked ranges per server, random ack order."""
    servers = draw(
        st.lists(
            st.sampled_from(["A", "B", "C"]),
            min_size=1, max_size=3, unique=True,
        )
    )
    frags, model = [], {}
    for s in servers:
        # random subset of consecutive unit blocks of random widths
        n_blocks = draw(st.integers(min_value=1, max_value=8))
        widths = draw(
            st.lists(
                st.integers(min_value=1, max_value=5),
                min_size=n_blocks, max_size=n_blocks,
            )
        )
        present = draw(
            st.lists(
                st.booleans(), min_size=n_blocks, max_size=n_blocks
            )
        )
        if not any(present):
            present[0] = True
        start = 0
        ranges = []
        for w, keep in zip(widths, present):
            if keep:
                ranges.append((start, start + w - 1))
            start += w
        frags += [f"{s}:{a}-{b}" for a, b in ranges]
        # reference model: walk islands from the minimal range
        safe_end = ranges[0][1]
        n_safe = 1
        for (pa, pb), (a, b) in zip(ranges, ranges[1:]):
            if a > pb + 1:
                break
            safe_end = b
            n_safe += 1
        model[s] = (safe_end, n_safe)
    order = draw(st.permutations(frags))
    return list(order), model


@pytest.mark.slow  # Spark-backed: full-suite seal only (see conftest)
@given(_gtid_ranges())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_gtid_safe_set_matches_island_model(spark, data):
    """GtidSetAlgebra property: for ANY ack arrival order, the safe
    checkpoint is the end of the first gap-free island from the
    minimal acked transaction — per server, independently."""
    from replicator_spark.cdc.checkpoint import gtid_safe_set

    frags, model = data
    df = spark.createDataFrame([(g,) for g in frags], ["gtid"])
    got = {
        r["server_uuid"]: (r["safe_checkpoint"], r["n_safe_ranges"])
        for r in gtid_safe_set(df).collect()
    }
    assert got == model


_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
)

_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=6),
        st.dictionaries(st.text(max_size=12), inner, max_size=6),
    ),
    max_leaves=20,
)


@given(_json_values)
@settings(max_examples=200, deadline=None)
def test_jsonb_roundtrip_matches_json_semantics(value):
    """MySQL binary-JSON walk property (MysqlTypeDeserializer.java:
    99-109 surface): encode→decode must be a semantic identity for
    any JSON value — nesting, unicode + control-char escapes, the
    signed/unsigned int tag split, and MySQL's length-then-bytes key
    ordering (order-insensitive compare via parsed equality)."""
    import json

    from replicator_spark.cdc.jsonb import (
        json_value_to_jsonb,
        jsonb_to_json,
    )

    out = jsonb_to_json(json_value_to_jsonb(value))
    assert json.loads(out) == value


@pytest.mark.slow  # Spark-backed: full-suite seal only (see conftest)
@given(
    st.text(max_size=30),
    st.sampled_from(
        ["latin1_swedish_ci", "latin1_general_ci", "utf8mb4_general_ci",
         "utf8_general_ci", "ascii_general_ci"]
    ),
)
@settings(max_examples=30, deadline=None)
def test_collation_decode_inverts_encode(spark, s, collation):
    """bytes→string by collation (MysqlTypeDeserializer.java:85-97):
    decoding the collation's own encoding is the identity for any
    string the charset can represent."""
    from pyspark.sql import functions as F

    from replicator_spark.cdc.decode import (
        encode_by_collation,
        string_by_collation,
    )

    if collation.startswith(("latin1", "ascii")):
        # restrict to the charset's representable repertoire
        limit = 128 if collation.startswith("ascii") else 256
        s = "".join(ch for ch in s if ord(ch) < limit)
    df = spark.createDataFrame([(s, collation)], "s string, coll string")
    out = df.select(
        string_by_collation(
            encode_by_collation(F.col("s"), F.col("coll")), F.col("coll")
        ).alias("rt")
    ).collect()[0]["rt"]
    assert out == s
