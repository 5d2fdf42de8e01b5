"""Property-based checks (SURVEY.md §5.4) for last-value and as-of operators,
plus physical-plan shape assertions (the 100 TB story made testable)."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opc2mongodb_spark.operators.asof import asof_join
from opc2mongodb_spark.sources.tables import load_table
from opc2mongodb_spark.operators.last_value import (
    last_value_per_key,
    last_value_per_key_window,
)

BASE = datetime(2024, 1, 1)

records = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=50),   # ts offset seconds
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=40,
)


def _df(spark, rows):
    data = [
        (k, BASE + timedelta(seconds=t), float(v), i)
        for i, (k, t, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "key int, ts timestamp, value double, seq bigint"
    )


@settings(max_examples=12, deadline=None)
@given(rows=records)
def test_last_value_invariants(spark, rows):
    df = _df(spark, rows)
    out = last_value_per_key(df, ["key"], "ts", tiebreak_cols=["seq"]).collect()
    # exactly one row per key
    assert sorted(r.key for r in out) == sorted({k for k, _, _ in rows})
    by_key: dict[int, list] = {}
    for i, (k, t, v) in enumerate(rows):
        by_key.setdefault(k, []).append((BASE + timedelta(seconds=t), i, float(v)))
    for r in out:
        best_ts, best_seq, best_v = max(by_key[r.key])
        assert r.ts == best_ts
        assert r.seq == best_seq
        assert r.value == best_v


@settings(max_examples=8, deadline=None)
@given(rows=records)
def test_window_variant_agrees_with_aggregate_variant(spark, rows):
    df = _df(spark, rows)
    a = {
        (r.key, r.ts, r.value, r.seq)
        for r in last_value_per_key(df, ["key"], "ts", ["seq"]).collect()
    }
    b = {
        (r.key, r.ts, r.value, r.seq)
        for r in last_value_per_key_window(df, ["key"], "ts", ["seq"]).collect()
    }
    assert a == b


@settings(max_examples=8, deadline=None)
@given(left=records, right=records)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = _df(spark, left)
    rdf = _df(spark, right)
    out = asof_join(
        ldf, rdf, on=["key"], left_ts="ts", right_ts="ts",
        right_cols=["value"], right_tiebreak="seq",
    ).collect()
    assert len(out) == len(left)
    rights = [
        (k, BASE + timedelta(seconds=t), float(v), i)
        for i, (k, t, v) in enumerate(right)
    ]
    for r in out:
        cands = [
            (ts, seq, v)
            for (k, ts, v, seq) in rights
            if k == r.key and ts <= r.ts
        ]
        if not cands:
            assert r.value_asof is None and r.ts_asof is None
        else:
            ts, seq, v = max(cands)
            assert r.value_asof == v, (r, cands)
            assert r.ts_asof == ts


# --- physical plan shape: the scale contract ------------------------------


def test_star_join_broadcasts_dims(spark, sf_dir):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_join_star"].build(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region never shuffle


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_filter"].build(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_returnflag)" in plan or "EqualTo(l_returnflag,N)" in plan


def test_projection_prunes_columns(spark, sf_dir):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_topk"].build(spark, sf_dir))
    # scan must read only the two projected columns
    assert "o_orderkey" in plan and "o_totalprice" in plan
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:200]


def test_whole_stage_codegen_covers_coercion(spark, sf_dir):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_coerce_numeric"].build(spark, sf_dir))
    assert "codegen id" in plan  # coercion is JVM-side whole-stage codegen
    assert "Python" not in plan  # ... and never a Python UDF


def test_topk_avoids_global_sort(spark, sf_dir):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_topk"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-K, no full sort


def test_range_join_is_hash_join_not_bnlj(spark, sf_dir):
    """E6 scale contract: the time band must ride on the user_id equi-key
    (hash join + post-filter), never a BroadcastNestedLoopJoin over events."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_join_range"].build(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """E7 scale contract: merge-union as-of = exactly one exchange on the
    key (plus the window sort), not a join blowup."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_join_asof"].build(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_null_payload_not_backfilled(spark):
    """When the latest matching right row carries a NULL payload column, the
    output must keep that NULL — not back-fill it from an older right row
    (all _asof columns must come from the SAME right row)."""
    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 10, 0, s)
    left = spark.createDataFrame([(1, t(30))], ["key", "ts"])
    right = spark.createDataFrame(
        [
            (1, t(10), 111.0, "old", 1),
            (1, t(20), None, "new", 2),  # latest row: value is NULL
        ],
        ["key", "ts", "value", "label", "seq"],
    )
    out = asof_join(
        left, right, on=["key"], left_ts="ts", right_ts="ts",
        right_cols=["value", "label"], right_tiebreak="seq",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.label_asof == "new"
    assert r.ts_asof == t(20)
    assert r.value_asof is None, (
        f"value_asof={r.value_asof}: NULL back-filled from an older right row"
    )


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation must label a multi-hop chain with its minimum
    vertex id (exercises >1 iteration) and leave isolated vertices as their
    own cluster."""
    from opc2mongodb_spark.operators.components import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    # chain 9-8-7-6-5 (min 5 must propagate 4 hops), pair (1,3), isolated 0/2/4
    edges = spark.createDataFrame(
        [(8, 9), (7, 8), (6, 7), (5, 6), (1, 3)], ["a_id", "b_id"]
    )
    got = {
        r.id: r.cluster_id
        for r in connected_components(vertices, edges, "id").collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5, 8: 5, 9: 5}


def test_keep_list_single_scan_single_shuffle(spark, sf_dir):
    """Corpus keep-list scale contract: one scan of documents (window-min,
    not agg+join-back) and one exchange on the fingerprint — text projected
    away before the shuffle."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_corpus_keep_list"].build(spark, sf_dir), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_tpch_q6_pushes_every_predicate_and_prunes(spark, sf_dir):
    """Q6 scale contract: all four predicates reach the parquet scan as
    pushed filters and the read schema carries only the 4 referenced
    columns — the scan-efficiency query must not read the table wide."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_tpch_q6"].build(spark, sf_dir))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split(
            "PushedFilters"
        )[1].split("]")[0], (col, plan)
    read_schema = plan.split("ReadSchema")[1][:220]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_orderkey" not in read_schema


def test_tpch_q4_exists_is_left_semi(spark, sf_dir):
    """Q4 scale contract: the correlated EXISTS must be a single LEFT SEMI
    join (each order emitted at most once — no post-join distinct), with the
    non-equi shipdate residual riding on the orderkey equi-join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_tpch_q4"].build(spark, sf_dir), "simple")
    assert "LeftSemi" in plan, plan
    assert "Distinct" not in plan and "Dedup" not in plan, plan


def test_kmeans_update_is_two_phase(spark, sf_dir):
    """Centroid-update scale contract: the mean recompute posexplodes the
    vectors and sums per (cell, dim) — NO aggregation buffer ever holds a
    cluster's member vectors. The only collect_list in the plan is the
    D-bounded (dim, sum, count) re-assembly."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_kmeans_iter"].build(spark, sf_dir), "simple")
    assert "posexplode(embedding" in plan, plan
    assert "collect_list(struct(dim" in plan, plan
    # the old gather shape: collect_list over (vec_id, embedding) structs
    assert "collect_list(struct(i" not in plan, plan
    assert "collect_list(struct(vec_id" not in plan, plan
    assert "sort_array" not in plan, plan


def test_kmeans_update_giant_cell_bounded(spark):
    """A cell holding EVERY vector must still aggregate through (cell, dim)
    partial sums — correct mean, no per-cluster vector gather. Components
    are dyadic (k/1024) so the decimal(28,12) pin is exact and the expected
    mean is computable in plain Python."""
    from opc2mongodb_spark.operators.kmeans import assign_cells, centroid_update

    n, d = 5000, 8
    rows = [
        (i, [((i * 7 + j * 13) % 1024) / 1024.0 for j in range(d)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # one near centroid (all components 0.5) and one far (100.0) -> every
    # vector lands in cid=0
    cents = spark.createDataFrame(
        [(0, [0.5] * d), (1, [100.0] * d)], "cid bigint, cv array<float>"
    )
    out = centroid_update(emb, assign_cells(emb, cents)).collect()
    assert len(out) == 1 and out[0]["cid"] == 0 and out[0]["n_members"] == n
    from decimal import ROUND_HALF_UP, Decimal

    def java_9e(x: float) -> str:
        # Java's %.9e: HALF_UP on the SHORTEST round-trip decimal repr
        # (Double.toString), not the exact binary expansion and not
        # half-even — dyadic test values land exactly on ties, where
        # Python's %-formatting disagrees. repr() is Python's shortest
        # round-trip form, digit-identical to Double.toString.
        d = Decimal(repr(x))
        adj = d.adjusted()
        q = d.scaleb(-adj).quantize(Decimal("1.000000000"), ROUND_HALF_UP)
        if q >= 10:  # carry: 9.9999999995 -> 10.00... -> 1.000e+<adj+1>
            q = q.scaleb(-1).quantize(Decimal("1.000000000"))
            adj += 1
        return f"{q}e{adj:+03d}"

    for j in range(d):
        # exact: integer sum, then /1024 (dyadic, exact in double) mirrors
        # the decimal->double cast, then one rounding double division by n —
        # the same two steps the operator performs
        total = sum((i * 7 + j * 13) % 1024 for i in range(n))
        expected = (total / 1024.0) / n
        assert out[0]["centroid"][j] == java_9e(expected), (
            j, out[0]["centroid"][j], java_9e(expected),
        )


def test_vocab_coverage_is_take_ordered(spark, sf_dir):
    """Top-k scale contract: the top-100 vocabulary cut must be a
    TakeOrdered (distributed partial top-k), never a global sort of the
    whole vocabulary."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_vocab_coverage"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_hybrid_neardup_no_cartesian(spark, sf_dir):
    """Hybrid dedup scale contract: every join is keyed (LSH bucket ids or
    pair ids) — no cartesian/broadcast-nested-loop blowup anywhere in the
    candidate + verify + embedding-join pipeline."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_hybrid_neardup"].build(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skew_agg_is_two_phase(spark, sf_dir):
    """Salted aggregation scale contract: two HashAggregate pairs (partial
    per (key,salt), final per key) and no single-key-partition exchange of
    raw rows — the salt column is in the first exchange's partitioning."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_skew_agg"].build(spark, sf_dir), "simple")
    assert "_salt" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2 phases x partial/final


def test_cms_probe_join_is_broadcast(spark, sf_dir):
    """Count-min scale contract: the 256-cell sketch is broadcast to the
    probe side — the token stream never shuffles for the estimate join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_heavy_hitters_cms"].build(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_resample_forward_fills_gaps(spark):
    """Hourly grid spans each key's observed range; buckets with no
    observation carry the latest earlier value forward."""
    from datetime import datetime

    from opc2mongodb_spark.operators.resample import resample_last_value

    ev = spark.createDataFrame(
        [
            (1, "u", datetime(2024, 1, 1, 10, 15), 1.0),
            (2, "u", datetime(2024, 1, 1, 10, 45), 2.0),
            # gap: nothing in 11:xx or 12:xx
            (3, "u", datetime(2024, 1, 1, 13, 5), 9.0),
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    got = {
        r.bucket.hour: r.last_value
        for r in resample_last_value(
            ev, ["user_id"], "ts", "value", "1 hour", "event_id"
        ).collect()
    }
    # 10:00 bucket ends 10:59:59.999999 -> latest is event 2
    assert got == {10: 2.0, 11: 2.0, 12: 2.0, 13: 9.0}


def test_resample_multi_unit_steps_and_invalid_steps(spark):
    """'15 minutes'-style steps must produce a unit-aligned stepping grid
    (date_trunc used to NULL the bounds for plural units → silent empty
    result); unsupported steps must raise, never return empty."""
    from datetime import datetime

    import pytest

    from opc2mongodb_spark.operators.resample import resample_last_value

    ev = spark.createDataFrame(
        [
            (1, "u", datetime(2024, 1, 1, 10, 7), 1.0),
            (2, "u", datetime(2024, 1, 1, 10, 52), 2.0),
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    got = {
        r.bucket.minute: r.last_value
        for r in resample_last_value(
            ev, ["user_id"], "ts", "value", "15 minutes", "event_id"
        ).collect()
    }
    # grid anchored at trunc(10:07, minute)=10:07, stepping 15 min; bucket
    # ends are :21:59.99, :36:59.99, :51:59.99 → event 2 (10:52) lands in
    # the last bucket only
    assert got == {7: 1.0, 22: 1.0, 37: 1.0, 52: 2.0}

    for bad in ("2 fortnights", "0 hour", "1.5 hour", "hourly ish x"):
        with pytest.raises(ValueError):
            resample_last_value(ev, ["user_id"], "ts", "value", bad)


def test_salted_join_rejects_dim_preserving_how(spark):
    """right/full outer would replicate unmatched dim rows n_salts times —
    salted_join must refuse them, not silently return wrong results."""
    import pytest

    from opc2mongodb_spark.operators.skew import salted_join

    f = spark.createDataFrame([(1, "x")], ["k", "v"])
    d = spark.createDataFrame([(1, "y"), (2, "z")], ["k", "w"])
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(f, d, ["k"], n_salts=4, how=how)
    # left outer on the fact side is fine: unmatched FACT rows appear once
    f2 = spark.createDataFrame([(1, "x"), (3, "q")], ["k", "v"])
    rows = sorted(
        (r.k, r.v, r.w) for r in salted_join(f2, d, ["k"], 4, "left").collect()
    )
    assert rows == [(1, "x", "y"), (3, "q", None)]


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Property: labels agree with a driver-side union-find reference on
    random graphs (including multi-edges and disconnected vertices)."""
    from opc2mongodb_spark.operators.components import connected_components

    n = 25
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in range(n)}

    vertices = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)], ["a_id", "b_id"]
    )
    if not edges:
        edf = edf.filter("a_id <> a_id")  # empty edge list
    got = {
        r.id: r.cluster_id
        for r in connected_components(vertices, edf, "id").collect()
    }
    assert got == expected


def test_cms_estimate_is_conservative(spark, sf_dir):
    """Count-min invariant: every estimate >= the exact count (collisions
    only ever inflate), and a token colliding nowhere is exact."""
    from opc2mongodb_spark.queries import REGISTRY

    est = {
        r.tok: r.est_count
        for r in REGISTRY["q_heavy_hitters_cms"].build(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    exact = {
        r.tok: r.cnt
        for r in d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert est, "CMS returned no heavy hitters"
    for tok, e in est.items():
        assert e >= exact[tok], f"CMS under-counted {tok}: {e} < {exact[tok]}"


@settings(max_examples=8, deadline=None)
@given(rows=records)
def test_resample_matches_python_forward_fill(spark, rows):
    """Property: every hourly bucket carries the max-(ts, seq) observation
    at or before the bucket end, per key — checked against a pure-Python
    forward fill."""
    from opc2mongodb_spark.operators.resample import resample_last_value

    df = _df(spark, rows)
    got = {
        (r.key, r.bucket): r.last_value
        for r in resample_last_value(
            df, ["key"], "ts", "value", "1 hour", "seq"
        ).collect()
    }
    by_key: dict[int, list] = {}
    for i, (k, t, v) in enumerate(rows):
        by_key.setdefault(k, []).append((BASE + timedelta(seconds=t), i, float(v)))
    expected = {}
    for k, obs in by_key.items():
        t0 = min(t for t, _, _ in obs).replace(minute=0, second=0, microsecond=0)
        t1 = max(t for t, _, _ in obs).replace(minute=0, second=0, microsecond=0)
        cur = t0
        while cur <= t1:
            end = cur + timedelta(hours=1) - timedelta(microseconds=1)
            cands = [(t, i, v) for t, i, v in obs if t <= end]
            expected[(k, cur)] = max(cands)[2] if cands else None
            cur += timedelta(hours=1)
    assert got == expected


def test_lloyd_converges_on_blobs(spark):
    """Full Lloyd loop: from deliberately bad seeds, two well-separated
    blobs are recovered within a few rounds — assignments match the blobs,
    centroids land on the blob means, and the loop stops on tol rather
    than exhausting max_iter."""
    from opc2mongodb_spark.operators.kmeans import lloyd

    d = 4
    rows = []
    for i in range(200):
        base = 0.0 if i < 100 else 10.0
        rows.append((i, [base + ((i * 13 + j) % 7) / 7.0 for j in range(d)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    seeds = spark.createDataFrame(
        [(0, [4.0] * d), (1, [6.0] * d)], "cid bigint, cv array<double>"
    )
    assign, cents, rounds = lloyd(emb, seeds, max_iter=10, tol=1e-9)
    assert rounds < 10
    got = {r.vec_id: r.cell for r in assign.collect()}
    blob0 = {got[i] for i in range(100)}
    blob1 = {got[i] for i in range(100, 200)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    lo = cents[blob0.pop()]
    hi = cents[blob1.pop()]
    assert all(abs(x - (0.0 + 3 / 7.0)) < 0.5 for x in lo)
    assert all(abs(x - (10.0 + 3 / 7.0)) < 0.5 for x in hi)


def test_lloyd_checkpoints_and_releases(spark):
    """r5 lineage discipline: lloyd's returned assignment is a materialized
    constant-depth plan (LogicalRDD leaf — re-using it never replays the
    loop), intermediate rounds' checkpoint blocks are released (only the
    returned frame may stay persisted), and releasing that drops back to
    baseline."""
    from opc2mongodb_spark.operators.components import release_checkpoint
    from opc2mongodb_spark.operators.kmeans import lloyd

    sc = spark.sparkContext

    def persisted_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    baseline = persisted_ids()
    d = 4
    rows = [
        (i, [(0.0 if i < 50 else 10.0) + ((i * 13 + j) % 7) / 7.0 for j in range(d)])
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    seeds = spark.createDataFrame(
        [(0, [4.0] * d), (1, [6.0] * d)], "cid bigint, cv array<double>"
    )
    assign, cents, rounds = lloyd(emb, seeds, max_iter=6, tol=1e-9)
    assert rounds >= 2  # multiple rounds actually ran
    plan = assign._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # checkpointed leaf, not the full loop plan
    assert "Aggregate" not in plan  # constant depth: no per-round operators
    assert len(persisted_ids() - baseline) <= 1  # only the returned frame
    assert assign.count() == 100  # still usable after intermediate releases
    release_checkpoint(assign)
    assert persisted_ids() - baseline == set()


def test_tpch_q5_broadcasts_the_dim_chain(spark, sf_dir):
    """Q5's region->nation->supplier chain must ride broadcast joins (the
    dim side is tiny at any scale); only lineitem x orders x customer may
    shuffle. The local-supplier predicate is a residual on the broadcast
    join, not an extra exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_tpch_q5"].build(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1  # supplier+nation+region dim
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_semi_join_prunes_before_reagg(spark, sf_dir):
    """Q18's big-order keyset must reach orders as a LEFT SEMI join and the
    keyset aggregation must read only the two columns it needs."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_tpch_q18"].build(spark, sf_dir))
    assert "LeftSemi" in plan


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=30),
        min_size=2,
        max_size=14,
    )
)
def test_simhash_banding_matches_bruteforce(spark, texts):
    """Pigeonhole guarantee, property-tested: for arbitrary (dup-heavy —
    3-char alphabet) corpora, the banded SimHash join emits EXACTLY the
    pairs whose signature hamming distance is within the bound, each
    exactly once — including pairs among identical signatures, which since
    r5 travel the collapse/re-expand path."""
    from opc2mongodb_spark.functions.text import simhash
    from opc2mongodb_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_neardup_pairs(
            df, "doc_id", "text", n_bands=2, max_hamming=1, n_bits=16
        ).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in simhash(df, "doc_id", F.col("text"), 16).collect()
    }
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 1:
                expected[(a, b)] = h
    assert got == expected


def test_pack_sequences_offsets_are_contiguous(spark, sf_dir):
    """q_pack_sequences layout invariants: within each shard (replayable
    order), token starts chain with no gaps or overlaps, and
    (pack_id, pack_offset) decompose each start against the 512 budget."""
    from opc2mongodb_spark.operators.sharding import shard_assignment
    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.sources.tables import load_table

    rows = REGISTRY["q_pack_sequences"].build(spark, sf_dir).collect()
    order = {
        r.doc_id: (r.shard, r.ord)
        for r in shard_assignment(
            load_table(spark, sf_dir, "documents").select("doc_id"),
            "doc_id",
            16,
        ).collect()
    }
    by_shard: dict[int, list] = {}
    for r in rows:
        assert order[r.doc_id][0] == r.shard
        by_shard.setdefault(r.shard, []).append(
            (order[r.doc_id][1], r.doc_id, r.pack_id, r.pack_offset, r.n_tok)
        )
    assert len(by_shard) == 16
    for members in by_shard.values():
        start = 0
        for _, _, pack_id, off, n_tok in sorted(members):
            assert pack_id == start // 512
            assert off == start % 512
            start += n_tok


def test_winnowing_local_guarantee(spark):
    """The winnowing theorem (k=4, w=5): two documents sharing a token run
    of length >= w + k - 1 = 8 share at least one fingerprint, whatever
    surrounds the run; unrelated docs share none; sub-k docs sketch
    empty."""
    from opc2mongodb_spark.operators.dedup import winnow_sketch

    shared = "q w e r t y u i"  # exactly 8 tokens
    docs = [
        (1, f"aaa bbb ccc {shared} ddd eee"),
        (2, f"zz yy {shared} xx"),
        (3, "totally different words with no overlap at all here"),
        (4, "one two"),  # < k tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: set(r.fps) for r in winnow_sketch(df, "doc_id", "text").collect()}
    assert got[1] & got[2], "shared 8-token run must yield a common fingerprint"
    assert not (got[1] & got[3]) and not (got[2] & got[3])
    assert got[4] == set()


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=24),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_filter_join_is_lossless(spark, texts):
    """Prefix filtering is a guarantee, not a heuristic: for arbitrary
    corpora the join returns EXACTLY the brute-force set of pairs with
    token-set Jaccard >= t (rarest-first prefixes can never both miss a
    qualifying pair's shared tokens)."""
    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    t = 0.6
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in prefix_filter_pairs(df, "doc_id", "text", t).collect()
    }
    # mirror the engine tokenizer exactly: split on single spaces, empty
    # tokens kept (distinct_tokens == list_distinct(string_split(text,' ')))
    sets = {i: set(s.split(" ")) for i, s in enumerate(texts)}
    expected = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= t:
                    expected[(a, b)] = j
    assert got == expected


def test_boilerplate_two_phase_plan(spark, sf_dir):
    """q_boilerplate_ngrams' exact-count pass must be gated by a BROADCAST
    semi-join on the phase-1 hash survivors (the text-bearing shuffle only
    carries real boilerplate), and the output must equal a direct
    text-count plan (the hash prefilter is lossless)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.sources.tables import load_table

    df = REGISTRY["q_boilerplate_ngrams"].build(spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(t) >= 8, F.sequence(F.lit(1), F.size(t) - 7)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(8)]),
    )
    direct = (
        d.select(F.explode(F.array_distinct(gram)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(50)
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in direct.collect()]


def test_setsim_join_no_cartesian(spark, sf_dir):
    """The prefix-filter join must stay an equi-join on prefix tokens —
    never a cartesian/BNLJ — with the size filter riding the join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_setsim_join"].build(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resample_interpolate_edges(spark):
    """Interpolation contract: NULL before the first sample, lerp between
    brackets (exact fraction), pass-through on exact hits, hold after the
    last sample."""
    from datetime import datetime

    from opc2mongodb_spark.operators.resample import resample_interpolate

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)
    ev = spark.createDataFrame(
        [
            (1, t(10, 30), 10.0, 1),
            (1, t(12, 30), 30.0, 2),
            (1, t(13, 0), 50.0, 3),  # exact grid hit
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    got = {
        r.bucket: r.interp
        for r in resample_interpolate(
            ev, ["user_id"], "ts", "value", "1 hour", "event_id"
        ).collect()
    }
    assert got[t(10)] is None  # before the first sample
    assert got[t(11)] == 10.0 + 20.0 * (30 / 120)  # lerp at 11:00
    assert got[t(12)] == 10.0 + 20.0 * (90 / 120)
    assert got[t(13)] == 50.0  # exact sample passes through
    # grid spans to trunc(max)=13:00 only; extend via a later sample-free
    # key? hold-after-last is covered by the zero-width bracket branch:
    ev2 = spark.createDataFrame(
        [(2, t(10, 30), 7.0, 1)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    got2 = {
        r.bucket: r.interp
        for r in resample_interpolate(
            ev2, ["user_id"], "ts", "value", "1 hour", "event_id"
        ).collect()
    }
    assert got2[t(10)] is None  # 10:00 precedes the only sample


def test_time_weighted_avg_stepped_semantics(spark):
    """TWA weights each held value by microsecond overlap with the hour:
    partial edge coverage is exposed via covered_us (not extrapolated),
    segments spanning buckets split exactly, zero-length segments
    (duplicate ts) contribute nothing, and nothing extends past the last
    sample."""
    from datetime import datetime

    from opc2mongodb_spark.operators.resample import time_weighted_avg

    ev = spark.createDataFrame(
        [
            # key "u": 10:30 -> 10:45 holds 2.0; 10:45 -> 11:30 holds 6.0
            (1, "u", datetime(2024, 1, 1, 10, 30), 2.0),
            (2, "u", datetime(2024, 1, 1, 10, 45), 6.0),
            (3, "u", datetime(2024, 1, 1, 11, 30), 100.0),  # last: no segment
            # key "v": duplicate ts (zero-length) then a 1h-spanning hold
            (4, "v", datetime(2024, 1, 1, 10, 0), 1.0),
            (5, "v", datetime(2024, 1, 1, 10, 0), 3.0),
            (6, "v", datetime(2024, 1, 1, 12, 0), 5.0),  # last: no segment
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    rows = {
        (r.user_id, r.bucket.hour): (r.twa, r.covered_us)
        for r in time_weighted_avg(
            ev, ["user_id"], "ts", "value", "1 hour", "event_id"
        ).collect()
    }
    m = 60_000_000  # one minute in µs
    # u/10:00 — 15 min of 2.0 + 15 min of 6.0 over 30 min covered
    assert rows[("u", 10)] == (4.0, 30 * m)
    # u/11:00 — 30 min of 6.0; 100.0 is the unbounded last sample
    assert rows[("u", 11)] == (6.0, 30 * m)
    # v — event 5 (later event_id at the same ts) holds 10:00 -> 12:00,
    # split exactly across two full buckets; event 4's segment is 0-length
    assert rows[("v", 10)] == (3.0, 60 * m)
    assert rows[("v", 11)] == (3.0, 60 * m)
    assert ("v", 12) not in rows and ("u", 12) not in rows
    assert set(rows) == {("u", 10), ("u", 11), ("v", 10), ("v", 11)}


def test_time_weighted_avg_rejects_unsupported_steps(spark):
    import pytest as _pytest

    from opc2mongodb_spark.operators.resample import time_weighted_avg

    from datetime import datetime

    ev = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1), 1.0)], ["e", "u", "ts", "v"]
    )
    for bad in ("15 minutes", "1 month", "2 hours"):
        with _pytest.raises(ValueError):
            time_weighted_avg(ev, ["u"], "ts", "v", bad)


def test_tpch_completion_plan_shapes(spark, sf_dir):
    """Scale-shape assertions for the r5 TPC-H completion: dims broadcast,
    correlated subqueries decorrelate into joins (no nested-loop / cartesian
    anywhere), q16's NOT-IN runs as an anti join, q22's no-orders check as
    an anti join, q20's keyset as semi joins."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_tpch_q2",
        "q_tpch_q7",
        "q_tpch_q8",
        "q_tpch_q9",
        "q_tpch_q11",
        "q_tpch_q13",
        "q_tpch_q15",
        "q_tpch_q17",
        "q_tpch_q19",
        "q_tpch_q21",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 1, name

    q16 = explain_str(REGISTRY["q_tpch_q16"].build(spark, sf_dir))
    assert "LeftAnti" in q16, q16
    q22 = explain_str(REGISTRY["q_tpch_q22"].build(spark, sf_dir))
    assert "LeftAnti" in q22, q22
    q20 = explain_str(REGISTRY["q_tpch_q20"].build(spark, sf_dir))
    assert "LeftSemi" in q20, q20


def test_pii_scrub_stays_codegen(spark, sf_dir):
    """The scrubber must be pure Column expressions — no Python evaluation
    node (BatchEvalPython/ArrowEvalPython) may appear; the scan is the cost."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_pii_scrub"].build(spark, sf_dir))
    assert "EvalPython" not in plan, plan


def test_mix_rebalance_broadcasts_keepcounts(spark, sf_dir):
    """The |sources|-row keep_n table must broadcast onto the ranked frame —
    the rank window is the only per-source sort."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_mix_rebalance"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_pagerank_known_graph_and_mass_conservation(spark):
    """2-round PageRank on a hand-checkable graph: path a-b-c (undirected)
    plus isolated d. Verified against a pure-python replay of the same
    decimal-pinned arithmetic; total mass stays ~1."""
    from decimal import Decimal

    import pytest

    from opc2mongodb_spark.operators.pagerank import pagerank

    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    und = [("a", "b"), ("b", "c")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], ["src", "dst"]
    )
    got = {r.id: r.pr for r in pagerank(verts, edges, iters=2).collect()}

    def dec12(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-12")))

    n, d = 4, 0.85
    deg = {"a": 1, "b": 2, "c": 1}
    pr = {v: 1.0 / n for v in "abcd"}
    for _ in range(2):
        contrib = {v: 0.0 for v in "abcd"}
        for s, t in und + [(y, x) for x, y in und]:
            contrib[t] += dec12(pr[s] / deg[s])
        dm = dec12(pr["d"])
        pr = {
            v: (1.0 - d) / n + d * (contrib[v] + dm / n) for v in "abcd"
        }
    assert got == pr
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub of the path outranks the leaves; the isolated node is lowest
    assert got["b"] > got["a"] == got["c"] > got["d"]

    with pytest.raises(ValueError):
        pagerank(verts, edges, iters=0)


@settings(max_examples=10, deadline=None)
@given(rows=records)
def test_time_weighted_avg_matches_bruteforce(spark, rows):
    """TWA vs a pure-python reference: for every key and hour bucket, the
    weighted mean over [ts_i, ts_{i+1}) segments clipped to the bucket —
    duplicates (zero-length segments) excluded, nothing past the last
    sample. records strategy: keys 0..4, second offsets 0..50 (all within
    one hour, so the per-bucket check still exercises dup timestamps and
    ordering), values -1000..1000."""
    from collections import defaultdict

    from opc2mongodb_spark.operators.resample import time_weighted_avg

    df = _df(spark, rows)
    got = {
        (r.key, r.bucket): (r.twa, r.covered_us)
        for r in time_weighted_avg(
            df, ["key"], "ts", "value", "1 hour", "seq"
        ).collect()
    }

    by_key = defaultdict(list)
    for i, (k, t, v) in enumerate(rows):
        by_key[k].append((BASE + timedelta(seconds=t), i, float(v)))
    exp = {}
    for k, pts in by_key.items():
        pts.sort()
        acc = defaultdict(lambda: [0.0, 0])  # bucket -> [sum v*us, sum us]
        for (t0, _, v), (t1, _, _) in zip(pts, pts[1:]):
            us0 = int(t0.timestamp() * 1e6)
            us1 = int(t1.timestamp() * 1e6)
            b = t0.replace(minute=0, second=0, microsecond=0)
            # all offsets < 1h, so each segment stays in one bucket here
            w = us1 - us0
            if w > 0:
                acc[b][0] += v * w
                acc[b][1] += w
        for b, (sv, sw) in acc.items():
            if sw > 0:
                exp[(k, b)] = (sv / sw, sw)
    assert set(got) == set(exp)
    for key in exp:
        assert got[key][1] == exp[key][1], (key, got[key], exp[key])
        assert abs(got[key][0] - exp[key][0]) < 1e-9, (key, got[key], exp[key])


def test_r5_additions_plan_shapes(spark, sf_dir):
    """Scale-shape assertions for the r5 analytics additions: no Python
    eval nodes anywhere (all pure Column plans), no cartesian products,
    and the broadcast-by-contract frames (similarity query profile, ANN
    query set) actually broadcast."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_kmv_distinct",
        "q_event_transitions",
        "q_sentiment",
        "q_window_range_frame",
        "q_funnel",
        "q_cohort_retention",
        "q_scd2_intervals",
        "q_rate_of_change",
        "q_triangle_count",
        "q_exact_quantiles",
        "q_pii_scrub",
        "q_mix_rebalance",
        "q_time_weighted_avg",
        "q_pagerank2",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    for name in ("q_ts_similarity", "q_ann_recall"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "EvalPython" not in plan, name


def test_farthest_point_seeds_traversal_and_ties(spark):
    """Farthest-point seeding on a hand-checkable 1-D layout: from x=0 the
    next seeds are the extremes, and exact-distance ties resolve to the
    LOWEST id."""
    from opc2mongodb_spark.operators.kmeans import farthest_point_seeds

    pts = {0: 0.0, 1: 10.0, 2: -10.0, 3: 6.0, 4: -6.0}
    e = spark.createDataFrame(
        [(i, [x]) for i, x in pts.items()], ["vec_id", "embedding"]
    )
    got = {
        r.round: r.vec_id
        for r in farthest_point_seeds(e, k=4, first_id=0).collect()
    }
    # round 1: ids 1 (x=10) and 2 (x=-10) tie at d2=100 -> lowest id wins
    assert got[0] == 0 and got[1] == 1
    # round 2: farthest from {0, 10} is x=-10 (d2=100 to 0)
    assert got[2] == 2
    # round 3: x=6 -> min-dist 16 (to 10); x=-6 -> 16 (to -10): tie -> id 3
    assert got[3] == 3

    import pytest

    with pytest.raises(ValueError):
        farthest_point_seeds(e, k=0)


def test_zorder_code_interleaves_known_bits(spark):
    """Morton code spot-check against the pure-Python bit interleave."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.layout import zorder_code

    cases = [(0, 0), (5, 3), (255, 0), (0, 255), (170, 85), (255, 255)]

    def py_morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z += ((x >> i) & 1) << (2 * i + 1)
            z += ((y >> i) & 1) << (2 * i)
        return z

    df = spark.createDataFrame(cases, "x int, y int").select(
        "x", "y", zorder_code(F.col("x"), F.col("y")).alias("z")
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    for x, y in cases:
        assert got[(x, y)] == py_morton(x, y), (x, y)


def test_zorder_layout_envelopes_tight_on_grid(spark):
    """The point of the layout: on a uniform 2-D grid, EVERY bucket's
    min/max envelope is tight on BOTH dimensions (a 64-way split of the
    16-bit z space covers one aligned 32x32 tile of the 256x256 cell grid
    => ~12.5% of each dimension's span). A single-dim sort would leave the
    other dimension's envelope at ~100% of span."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.layout import (
        layout_skipping_stats,
        zorder_layout,
    )
    from opc2mongodb_spark.plans.checks import explain_str

    grid = spark.range(128 * 128).select(
        (F.col("id") % 128).alias("x"), (F.col("id") / 128).cast("long").alias("y")
    )
    laid = zorder_layout(grid, "x", "y", bits=8, n_buckets=64)
    stats = layout_skipping_stats(laid, "x", "y").collect()
    assert len(stats) == 64
    assert sum(r.n_rows for r in stats) == 128 * 128
    span = 127.0
    for r in stats:
        assert (r.x_max - r.x_min) / span <= 0.30, r
        assert (r.y_max - r.y_min) / span <= 0.30, r

    plan = explain_str(laid)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the 1-row extent frame must ride a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_merge_agg_state_associative_and_matches_recompute(spark, sf_dir):
    """merge(merge(a,b),c) == merge(a,b,c) == full recompute, row for row —
    the algebraic-state contract that makes the view maintainable without
    re-scanning history."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.incremental import (
        finish_view,
        merge_agg_state,
        partial_agg_state,
    )
    from opc2mongodb_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    parts = [
        o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ]
    states = [
        partial_agg_state(p, ["o_custkey"], "o_totalprice") for p in parts
    ]
    nested = merge_agg_state(merge_agg_state(states[0], states[1]), states[2])
    flat = merge_agg_state(*states)
    direct = partial_agg_state(o, ["o_custkey"], "o_totalprice")

    def rows(s):
        return sorted(tuple(r) for r in finish_view(s).collect())

    assert rows(nested) == rows(flat) == rows(direct)


def test_weighted_sample_key_matches_python(spark):
    """ES key -ln(u)/w replayed in pure Python (hashlib + math) for known
    ids — pins the hash-uniform construction and the decimal pin."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from opc2mongodb_spark.functions.sampling import weighted_sample_key

    rows = [(1, 3), (42, 1), (999, 120), (7, 0)]  # (id, weight)
    df = spark.createDataFrame(rows, "doc_id long, w long").select(
        "doc_id",
        "w",
        weighted_sample_key(F.col("doc_id"), F.col("w")).alias("k"),
    )
    got = {r.doc_id: r.k for r in df.collect()}
    for i, w in rows:
        h = int(hashlib.md5(f"{i}|ws".encode()).hexdigest()[:13], 16)
        u = (h + 1) / 2**52
        expect = -math.log(u) / max(w, 1)
        assert abs(got[i] - expect) < 1e-11, (i, got[i], expect)


def test_weighted_sample_bias_toward_heavy_weights(spark):
    """Statistical sanity: with weights 50 vs 1 (500 docs each), the heavy
    half must dominate a 100-draw A-ES sample."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.functions.sampling import weighted_sample_key

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, F.lit(50)).otherwise(F.lit(1)).alias("w"),
    )
    top = (
        df.select(
            "doc_id",
            "w",
            weighted_sample_key(F.col("doc_id"), F.col("w")).alias("k"),
        )
        .orderBy("k", "doc_id")
        .limit(100)
    )
    n_heavy = top.filter(F.col("w") == 50).count()
    assert n_heavy >= 85, n_heavy  # E[n_heavy] ~ 98 at 50:1 odds


def test_r5_batch2_plan_shapes(spark, sf_dir):
    """No Python eval nodes / cartesian products in the batch-2 additions;
    the weighted sample must be a TakeOrdered top-k, not a full sort."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_zorder_stats",
        "q_unigram_nll",
        "q_weighted_sample",
        "q_incr_agg_merge",
        "q_lang_entropy",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_weighted_sample"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_corpus_diff_statuses_and_narrow_join(spark, sf_dir):
    """The diff must classify all four statuses on the synthetic carve-out,
    and the full-outer join must move only (id, fingerprint) — never text."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    df = REGISTRY["q_corpus_diff"].build(spark, sf_dir)
    got = {r.status for r in df.select("status").distinct().collect()}
    assert got == {"added", "removed", "changed", "unchanged"}
    plan = explain_str(df)
    assert "EvalPython" not in plan
    # the join's exchange reads only id+fp columns: text is projected away
    # before the shuffle, so the string payload never crosses the wire
    assert "text" not in plan.split("SortMergeJoin")[0].split("Exchange")[-1]


def test_bigram_nll_scores_scrambled_text_worse(spark):
    """The point of a bigram (vs unigram) model: reversing word order keeps
    unigram stats identical but must raise bigram NLL. Build a tiny corpus
    where one doc is the exact token-reversal of a frequent pattern."""
    from pyspark.sql import functions as F

    # 20 docs share the pattern; doc 99 reverses it (same unigrams).
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((99, "mat the on sat cat the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_bn_docs")

    t = F.split(F.col("text"), " ")
    idx = F.when(F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"), F.element_at(t, i + 1).alias("w2")
        ),
    )
    bg = df.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    v = df.select(F.explode(F.array_distinct(t)).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    lnp = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c2") + F.lit(0.5))
                / (F.col("c1") + F.lit(0.5) * F.col("v"))
            ).alias("lnp"),
        )
    )
    nll = {
        r.doc_id: r.nll
        for r in bg.join(lnp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg((-F.avg("lnp")).alias("nll"))
        .collect()
    }
    assert nll[99] > nll[0] + 0.5, nll


def test_prefix_filter_mask_kernel_equals_array_kernel(spark):
    """The adaptive bitmask verify must produce EXACTLY the array kernel's
    pairs and jaccard values on a small-vocab corpus, and force-disabling
    it must still pass through the general path."""
    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (1, "a b c d"),
        (2, "a b c d e"),
        (3, "a b c"),
        (4, "x y z"),
        (5, "x y z a"),
        (6, "a b c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def res(mask):
        return sorted(
            (r.a_id, r.b_id, round(r.jaccard, 12))
            for r in prefix_filter_pairs(
                df, "doc_id", "text", 0.6, mask_kernel=mask
            ).collect()
        )

    auto, forced, general = res(None), res(True), res(False)
    assert auto == forced == general
    assert (1, 6, 1.0) in auto  # identical sets
    assert all(j >= 0.6 for _, _, j in auto)


def test_prefix_filter_mask_kernel_rejects_big_vocab(spark):
    """mask_kernel=True must refuse a >64-token vocabulary instead of
    silently truncating the bit space."""
    import pytest

    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (i, " ".join(f"w{j}" for j in range(i * 10, i * 10 + 30)))
        for i in range(10)
    ]  # vocab w0..w119 — 120 distinct tokens, over the 64-bit budget
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab"):
        prefix_filter_pairs(df, "doc_id", "text", 0.7, mask_kernel=True)


def test_event_pattern_counts_on_known_sequence(spark):
    """Pin the CEP regex semantics on a hand-built stream: bursts are
    maximal error runs, rage-buys need the purchase IMMEDIATELY after."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    seq = "veepseev"  # one rage-buy (eep), two bursts (ee, ee)
    name = {"v": "view", "e": "error", "p": "purchase", "s": "signup",
            "c": "click"}
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, name[c], 0.0, "{}")
        for i, c in enumerate(seq)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    ch = F.substring("event_type", 1, 1)
    s = (
        ev.select("user_id", "ts", "event_id", ch.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                    lambda x: x["ch"],
                ),
            ).alias("s")
        )
        .collect()[0]
        .s
    )
    assert s == seq
    got = spark.createDataFrame([(s,)], "s string").select(
        F.regexp_count("s", F.lit("ee+")).alias("bursts"),
        F.regexp_count("s", F.lit("ee+p")).alias("rage"),
    ).collect()[0]
    assert (got.bursts, got.rage) == (2, 1)


def test_skyline2d_matches_bruteforce_dominance(spark):
    """The windowed two-phase skyline must equal the O(n^2) dominance
    definition on a corpus with ties in both dimensions."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    pts = [(10.0, 5), (10.0, 3), (8.0, 7), (8.0, 7), (12.0, 1),
           (7.0, 9), (6.0, 9), (12.0, 1), (11.0, 2), (5.0, 10)]
    rows = [(i, float(x), base + dt.timedelta(days=d)) for i, (x, d) in enumerate(pts)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double, o_orderdate timestamp")

    uniq = {(x, base + dt.timedelta(days=d)) for x, d in pts}
    brute = {
        p for p in uniq
        if not any(
            q != p and q[0] >= p[0] and q[1] >= p[1]
            and (q[0] > p[0] or q[1] > p[1])
            for q in uniq
        )
    }

    p = df.select(F.col("o_totalprice").alias("x"), F.col("o_orderdate").alias("y")).distinct()
    b = p.withColumn("b", F.pmod(F.abs(F.hash("x")), F.lit(4)))
    w1 = Window.partitionBy("b").orderBy(F.col("x").desc(), F.col("y").desc()).rowsBetween(Window.unboundedPreceding, -1)
    cand = b.withColumn("my", F.max("y").over(w1)).filter(F.col("my").isNull() | (F.col("y") > F.col("my")))
    w2 = Window.orderBy(F.col("x").desc(), F.col("y").desc()).rowsBetween(Window.unboundedPreceding, -1)
    sky = cand.select("x", "y").withColumn("my", F.max("y").over(w2)).filter(
        F.col("my").isNull() | (F.col("y") > F.col("my"))
    )
    got = {(r.x, r.y) for r in sky.collect()}
    assert got == brute


def test_kmv_set_ops_estimates_track_exact(spark, sf_dir):
    """Sketch algebra sanity: union/intersection estimates from the k=16
    KMV sketches must land within the family's coarse error envelope of
    the exact counts that ride along in the same row."""
    from opc2mongodb_spark.queries import REGISTRY

    r = REGISTRY["q_kmv_set_ops"].build(spark, sf_dir).collect()[0]
    assert r.k_used <= 16
    if r.exact_union <= 16:
        assert r.union_est == r.exact_union
        assert r.inter_est == r.exact_inter
    else:
        # k=16 KMV has ~1/sqrt(k-1) ≈ 26% relative error at one sigma;
        # allow three.
        assert abs(r.union_est - r.exact_union) <= 0.8 * r.exact_union + 2
        assert abs(r.inter_est - r.exact_inter) <= 0.8 * r.exact_union + 2


def test_r5_batch3_plan_shapes(spark, sf_dir):
    """No Python eval / cartesian products in the batch-3 additions; the
    skyline's phase-1 window must be hash-partitioned (no global sort of
    the data before the candidate cut)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_event_pattern", "q_skyline2d", "q_kmv_set_ops",
                 "q_abtest_lift"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_skyline2d"].build(spark, sf_dir))
    assert "hashpartitioning(b#" in plan or "hashpartitioning(b " in plan, plan


def test_rendezvous_shard_minimal_movement(spark, sf_dir):
    """The HRW selling point, asserted: growing 8 -> 9 shards moves ONLY
    docs that the new shard wins — zero movement among surviving shards,
    and a global move fraction near 1/9 (vs ~8/9 for a mod-N reshard)."""
    from opc2mongodb_spark.queries import REGISTRY

    rows = REGISTRY["q_rendezvous_shard"].build(spark, sf_dir).collect()
    assert [r.shard9 for r in rows] == list(range(9))
    for r in rows:
        if r.shard9 < 8:
            assert r.n_moved == 0, r
        else:
            assert r.n_moved == r.n_docs, r  # every new-shard resident moved
    total = sum(r.n_docs for r in rows)
    moved = sum(r.n_moved for r in rows)
    assert moved / total < 2 / 9, (moved, total)


def test_shard_manifest_detects_single_doc_change(spark, sf_dir):
    """The manifest's job: any one-document content change must flip that
    shard's XOR digest and leave every other shard's digest untouched."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.functions.text import fingerprint
    from opc2mongodb_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")

    def manifest(frame):
        f = fingerprint(F.col("text"))
        lane = lambda s: F.conv(F.substring(f, s, 15), 16, 10).cast("bigint")
        return {
            r.shard: (r.hi, r.lo)
            for r in frame.select(
                (F.col("doc_id") % 8).cast("int").alias("shard"),
                lane(1).alias("_hi"),
                lane(17).alias("_lo"),
            )
            .groupBy("shard")
            .agg(F.bit_xor("_hi").alias("hi"), F.bit_xor("_lo").alias("lo"))
            .collect()
        }

    base = manifest(d)
    tampered = manifest(
        d.withColumn(
            "text",
            F.when(
                F.col("doc_id") == 3, F.concat(F.col("text"), F.lit(" x"))
            ).otherwise(F.col("text")),
        )
    )
    assert base.keys() == tampered.keys()
    for s in base:
        if s == 3 % 8:
            assert base[s] != tampered[s]
        else:
            assert base[s] == tampered[s]


def test_seasonal_residual_broadcasts_baseline_and_takeordered(spark, sf_dir):
    """The hour-of-day baseline (<=|types|*24 rows) must broadcast back
    onto the fact scan, and top-50 must be TakeOrdered, not a full sort."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_seasonal_residual"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_r5_batch4_plan_shapes(spark, sf_dir):
    """Zipf fit, IQR gate, embedding drift: no Python eval, no cartesian
    products; the drift's mean-vector aggregation must be the two-phase
    posexplode shape (partial_* then merge_*), never a collect_list of
    whole vectors."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_zipf_fit", "q_iqr_outliers", "q_embedding_drift",
                 "q_rendezvous_shard", "q_shard_manifest", "q_split_leakage",
                 "q_seasonal_residual"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_embedding_drift"].build(spark, sf_dir))
    assert "partial_sum" in plan and "posexplode" in plan, plan[:500]


# ---------------------------------------------------------------------------
# r6: gated spread(), setsim exact-copy collapse, merge-state guards
# ---------------------------------------------------------------------------


def test_spread_identity_when_presplit(spark):
    """spread() must be a literal no-op (same object, no exchange) when the
    input already has >= defaultParallelism partitions — the 100 TB scan
    case where an added repartition would ship the corpus text."""
    from opc2mongodb_spark.plans.spread import spread

    wide = spark.range(1000).withColumnRenamed("id", "doc_id").repartition(
        spark.sparkContext.defaultParallelism + 4, "doc_id"
    )
    assert spread(wide, "doc_id") is wide


def test_spread_widens_narrow_input(spark):
    """A single-partition frame (the local single-file parquet case) must
    come out defaultParallelism-wide with identical rows."""
    from opc2mongodb_spark.plans.spread import spread

    narrow = spark.range(100).withColumnRenamed("id", "doc_id").coalesce(1)
    out = spread(narrow, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.doc_id for r in out.collect()) == list(range(100))


def test_no_numeric_literal_repartition_in_queries():
    """r5 VERDICT done-criterion: zero numeric-literal repartitions in
    queries.py — every pre-fan-out spread must derive its width (the
    shared plans.spread helper), never cap a cluster at a local core
    count."""
    import os
    import re

    import opc2mongodb_spark.queries as q

    pkg_dir = os.path.dirname(os.path.abspath(q.__file__))
    hits = []
    for fn in sorted(os.listdir(pkg_dir)):
        if not fn.endswith(".py"):
            continue
        src = open(os.path.join(pkg_dir, fn)).read()
        hits += [
            f"{fn}: {m.group(0)}"
            for m in re.finditer(r"\.repartition\(\s*\d", src)
        ]
    assert hits == [], hits


def test_prefix_filter_collapse_exact_equivalence(spark):
    """collapse_exact=True (collapse byte-identical copies, run the prefix
    pipeline on representatives, re-expand) must produce EXACTLY the
    uncollapsed result on a dup-heavy corpus — within-group 1.0 pairs,
    cross-group member fan-out, and near-dup pairs all included."""
    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (1, "a b c d"),
        (2, "a b c d"),   # copy of 1
        (3, "a b c d"),   # copy of 1
        (4, "a b c d e"), # near-dup of the group
        (5, "x y z"),
        (6, "x y z"),     # copy of 5
        (7, "p q r s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def res(collapse):
        return sorted(
            (r.a_id, r.b_id, round(r.jaccard, 12))
            for r in prefix_filter_pairs(
                df, "doc_id", "text", 0.6, collapse_exact=collapse
            ).collect()
        )

    collapsed, plain, auto = res(True), res(False), res(None)
    assert collapsed == plain == auto
    # within-group pairs present at exactly 1.0
    for pair in ((1, 2), (1, 3), (2, 3), (5, 6)):
        assert (*pair, 1.0) in collapsed
    # cross-group expansion: 4 pairs with EVERY member of the 1-2-3 group
    for a in (1, 2, 3):
        assert any(p == (a, 4) for p, _ in ((t[:2], t) for t in collapsed))


def test_merge_agg_state_rejects_empty_and_mismatched_keys(spark):
    """r5 ADVICE: zero states and key-set drift must fail loudly, not
    index-error or silently aggregate a key away."""
    import pytest

    from opc2mongodb_spark.operators.incremental import (
        merge_agg_state,
        partial_agg_state,
    )

    with pytest.raises(ValueError, match="at least one"):
        merge_agg_state()

    a = partial_agg_state(
        spark.createDataFrame([("x", 1.0)], "k string, v double"), ["k"], "v"
    )
    b = partial_agg_state(
        spark.createDataFrame([("x", "y", 1.0)], "k string, k2 string, v double"),
        ["k", "k2"],
        "v",
    )
    with pytest.raises(ValueError, match="grouping keys"):
        merge_agg_state(a, b)


def test_event_pattern_letter_alphabet_is_injective(spark):
    """q_event_pattern maps event types to their FIRST LETTERS; the mapping
    must stay injective on the real data or pattern classes silently merge
    on both engines while still hash-matching (r5 ADVICE). Checked at both
    oracle gate SFs."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.sources.tables import load_table
    from tests.conftest import ORACLE_SF_DIRS

    for d in ORACLE_SF_DIRS:
        ev = load_table(spark, d, "events")
        r = ev.agg(
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(F.substring("event_type", 1, 1)).alias("n_letters"),
        ).collect()[0]
        assert r.n_types == r.n_letters, (d, r)


def test_bigrams_no_text_exchange_when_scan_presplit(spark, sf_dir, tmp_path):
    """r5 VERDICT #1/#3 done-criterion: when the documents scan is already
    split across >= defaultParallelism partitions (the 100 TB case), the
    pre-explode spread() must vanish — no doc_id exchange, so the corpus
    text never crosses a shuffle. Locally we force a genuinely split scan
    by writing many files and shrinking maxPartitionBytes/openCost."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    split_dir = str(tmp_path)
    src.repartition(n + 4).write.mode("overwrite").parquet(
        split_dir + "/documents.parquet"
    )
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        scan = spark.read.parquet(split_dir + "/documents.parquet")
        assert scan.rdd.getNumPartitions() >= n, scan.rdd.getNumPartitions()
        plan = explain_str(REGISTRY["q_bigrams"].build(spark, split_dir))
        assert "hashpartitioning(doc_id" not in plan, plan[:800]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
    # and on the stock single-file layout (1 scan partition) the spread IS
    # applied — built AFTER the conf reset so the file doesn't split
    plan_single = explain_str(REGISTRY["q_bigrams"].build(spark, sf_dir))
    assert "hashpartitioning(doc_id" in plan_single, plan_single[:800]


def test_r6_additions_plan_shapes(spark, sf_dir):
    """New r6 queries stay JVM-side and shuffle-minimal: no Python eval, no
    cartesian products anywhere; the tolerance as-of keeps the merge-union
    single-shuffle shape (exactly one user_id exchange, no join operator);
    k-anonymity is one partial-aggregated groupBy."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_join_asof_tol", "q_kanonymity", "q_cusum_changepoint",
                 "q_key_skew_gini"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_join_asof_tol"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:900]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan

    plan = explain_str(REGISTRY["q_kanonymity"].build(spark, sf_dir))
    assert "partial_count" in plan, plan[:600]


def test_asof_tolerance_masks_stale_matches(spark):
    """Tolerance semantics on a hand-built frame: in-window match kept
    verbatim, stale match nulled ATOMICALLY (both value and ts), no-match
    stays null, exact boundary (gap == tolerance) is inclusive."""
    import datetime as dt

    from opc2mongodb_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    left = spark.createDataFrame(
        [(1, ts(60), "fresh"), (1, ts(200), "stale"), (2, ts(60), "never")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(30), 10.0), (1, ts(40), 11.0)],
        "k long, ts timestamp, v double",
    )
    out = {
        r.tag: (r.v_asof, r.ts_asof)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_cols=["v"], tolerance="30 MINUTE",
        ).collect()
    }
    assert out["fresh"] == (11.0, ts(40))   # 20 min gap, within bound
    assert out["stale"] == (None, None)     # 160 min gap, masked atomically
    assert out["never"] == (None, None)     # no right row at all
    # boundary: gap exactly == tolerance is INCLUSIVE
    boundary = spark.createDataFrame(
        [(1, ts(70), "edge")], "k long, ts timestamp, tag string"
    )
    r = asof_join(
        boundary, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["v"], tolerance="30 MINUTE",
    ).collect()[0]
    assert r.v_asof == 11.0


def test_r6_batch2_plan_shapes(spark, sf_dir):
    """BPE/session/MAD additions stay JVM-side: no Python eval, no
    cartesian; BPE's top-50 is TakeOrdered (never a global sort of the
    pair table); session-pattern shares ONE user_id exchange across both
    windows and the groupBy; MAD's med/mad joins broadcast."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_bpe_pair_counts", "q_session_pattern", "q_mad_outliers"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_bpe_pair_counts"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:600]

    plan = explain_str(
        REGISTRY["q_session_pattern"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:900]

    plan = explain_str(
        REGISTRY["q_mad_outliers"].build(spark, sf_dir), mode="simple"
    )
    # the tiny |types|-row med/mad frames must broadcast back onto the
    # fact — never a sort-merge (exact BHJ count varies with how the
    # planner stages the rank-selection subqueries)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:900]
    assert "SortMergeJoin" not in plan, plan[:900]


def test_r6_batch3_plan_shapes(spark, sf_dir):
    """Histogram median / hard negatives / KS drift: no Python eval, no
    CartesianProduct (1-row stat frames ride broadcast joins). Hard
    negatives is the one query where BroadcastNestedLoopJoin is the
    INTENDED plan — a bounded broadcast anchor set against a non-equi
    predicate — so assert its presence, not absence."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_histogram_median", "q_hard_negatives", "q_ks_drift"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_hard_negatives"].build(spark, sf_dir), mode="simple"
    )
    assert "BroadcastNestedLoopJoin" in plan, plan[:600]

    # histogram median: the bucket scoring join and the median-bucket
    # filter join must both broadcast (tiny stat frames), never sort-merge
    plan = explain_str(
        REGISTRY["q_histogram_median"].build(spark, sf_dir), mode="simple"
    )
    assert "SortMergeJoin" not in plan, plan[:900]


def test_load_table_hive_partitioned_dataset(spark, sf_dir, tmp_path):
    """The nanosecond-footer sniff must handle directory datasets laid out
    hive-style (only subdirectories at the top level) — it walks to the
    first *.parquet data file instead of footer-reading a directory."""
    from opc2mongodb_spark.sources.tables import (
        _nanos_timestamp_cols,
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path)
    ev.withColumn("part", (ev.event_id % 3).cast("int")).write.partitionBy(
        "part"
    ).parquet(out + "/events.parquet")
    _nanos_timestamp_cols.cache_clear()
    df = load_table(spark, out, "events")
    assert df.count() == ev.count()
    _nanos_timestamp_cols.cache_clear()


def test_r6_batch4_plan_shapes(spark, sf_dir):
    """l-diversity and chi-square stay JVM-side and cell-bounded: no Python
    eval, no cartesian; chi2's window marginals run over the tiny cell
    table (the fact scan appears exactly once)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_ldiversity", "q_chi2_independence"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_chi2_independence"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:900]


def _single_partition_exchanges_feed_aggregates(plan: str) -> list[str]:
    """Return the offending child snippets for every Exchange
    SinglePartition whose feeding frame is NOT aggregate-bounded — i.e. a
    single-task collapse of raw (non-aggregated) rows, the global-sort
    window anti-pattern.

    The walk looks through row-preserving unary wrappers (Project,
    Filter — neither can grow the frame) to the first substantive node:
    an Aggregate there means the collapsed frame is |groups|-bounded
    (fine); anything else (Scan, Join, Window, Generate, Union, Sort)
    is flagged. A ``Filter <- Scan`` or ``Project <- Scan`` chain still
    flags — the wrapper skip only removes false positives where a
    Project sits between the Exchange and the bounding aggregate."""
    import re

    bad = []
    lines = plan.splitlines()
    node_re = re.compile(r"[+:]- (.*)$")
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        node = None
        for j in range(i + 1, len(lines)):
            m = node_re.search(lines[j])
            if not m:
                continue
            # strip codegen-stage markers like "*(3) "
            name = re.sub(r"^\*\(\d+\) ", "", m.group(1))
            if name.startswith(("Project ", "Filter ", "Project\t")):
                node = name  # unary, row-preserving: its child is next
                continue
            node = name
            break
        if node is not None and "Aggregate" not in node and "Limit" not in node:
            # Aggregate => |groups|-bounded; Local/GlobalLimit or
            # TakeOrderedAndProject => limit-bounded. Anything else is a
            # raw-row collapse.
            bad.append(node.strip()[:160])
    return bad


def test_r7_histogram_rank_selection_plan_shapes(spark, sf_dir):
    """The shared histogram rank-selection (operators/histogram.py) keeps
    all three consumers free of single-task sorts over base rows: every
    Exchange SinglePartition in their plans sits directly above a (<=
    n_cells-row) aggregate, never above a Sort/Filter of the raw scan —
    the exact defect r6's q_psi_drift shipped with (global
    row_number().over(Window.orderBy(...)) on the full reference split).
    Also: no Python eval, no cartesian, and the __cell decomposition is
    actually present in the rank-selecting plans."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_psi_drift", "q_histogram_median", "q_ks_drift",
                 "q_mad_outliers"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, mode="simple")
        # ks renames __cell -> cell for its prefix joins; either way the
        # cell decomposition must be present
        assert "__cell" in simple or "cell#" in simple, name
        bad = _single_partition_exchanges_feed_aggregates(simple)
        assert not bad, (name, bad)


def test_setsim_broadcast_budget_reads_session_conf(spark, sf_dir):
    """ADVICE r6 + r10 cap: the setsim candidate-join broadcast gate
    measures token BYTES (octet_length). A session that DISABLED
    broadcasting (<= 0) is honored — no forced broadcast, identical
    results. A merely LOWERED positive threshold is out-ranked by the
    operator's PREFIX_BROADCAST_CAP (64 MiB): losing the broadcast hands
    the output-bound explosion to an AQE-coalesced 5-task stage (the r10
    sf1 cliff, SCALING.md), so the join keeps its broadcast plan whenever
    the measured frame fits the cap."""
    from opc2mongodb_spark.operators.dedup import (
        _parse_byte_conf,
        prefix_filter_pairs,
    )
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.sources.tables import load_table

    assert _parse_byte_conf("10485760b") == 10 << 20
    assert _parse_byte_conf("10MB") == 10 << 20
    assert _parse_byte_conf("512k") == 512 << 10
    assert _parse_byte_conf("-1") == -1
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf(None) == -1
    assert _parse_byte_conf("garbage") == -1

    docs = load_table(spark, sf_dir, "documents").limit(200)
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        off = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.6)
        # the forced-broadcast hint must be absent when the session
        # disabled broadcasting (planner-chosen broadcasts are also off
        # at -1, so no BroadcastHashJoin on the candidate self-join path)
        rows_off = sorted((r.a_id, r.b_id) for r in off.collect())
    finally:
        spark.conf.set(key, orig)
    on = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.6)
    rows_on = sorted((r.a_id, r.b_id) for r in on.collect())
    assert rows_off == rows_on

    # r10 cap: a tiny-but-positive session threshold must NOT demote the
    # candidate join to sort-merge — the 64 MiB operator cap keeps the
    # forced broadcast (only the forced hint can produce a
    # BroadcastHashJoin when the planner threshold is 1 byte)
    try:
        spark.conf.set(key, "1b")
        low = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.6)
        assert "BroadcastHashJoin" in explain_str(low)
        rows_low = sorted((r.a_id, r.b_id) for r in low.collect())
    finally:
        spark.conf.set(key, orig)
    assert rows_low == rows_on

    # r11 escape hatch (r10 ADVICE): spark.sparkGraft.prefixBroadcastCap
    # bounds the FORCED broadcast for memory-constrained deployments — a
    # 1-byte cap with a lowered session threshold must drop the forced
    # hint (sort-merge plan), still with identical results
    hatch = "spark.sparkGraft.prefixBroadcastCap"
    try:
        spark.conf.set(key, "1b")
        spark.conf.set(hatch, "1b")
        capped = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.6)
        assert "BroadcastHashJoin" not in explain_str(capped)
        rows_capped = sorted((r.a_id, r.b_id) for r in capped.collect())
    finally:
        spark.conf.set(key, orig)
        spark.conf.unset(hatch)
    assert rows_capped == rows_on


def test_sampled_gini_tracks_exact_on_skew_ladder(spark):
    """r6 VERDICT #7 (stretch): key_skew_gini's md5 key-sampling guard.
    On a synthetic skew ladder (uniform -> mild zipf -> heavy zipf ->
    one-hot), the sampled Gini must (a) stay within a small absolute
    error of the exact Gini at ~20% sampling, and (b) preserve the
    ladder's strict ordering — including the one-hot rung, which the
    heavy stratum must catch exactly (uniform sampling alone misses the
    single atom and collapses to ~0). top1_share is exact on every path.
    Unsampled path (max_keys=None and above-bound) must equal the exact
    formula bit-for-bit."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.skew import key_skew_gini

    def ladder(rung, n_keys=20000):
        # count for key i: uniform=5; zipf-ish via 1/(i+1)^a scaled
        if rung == "uniform":
            return [(i, 5) for i in range(n_keys)]
        if rung == "mild":
            return [(i, 1 + int(400 / (1 + i) ** 0.5)) for i in range(n_keys)]
        if rung == "heavy":
            return [(i, 1 + int(20000 / (1 + i))) for i in range(n_keys)]
        return [(i, 1_000_000 if i == 0 else 1) for i in range(n_keys)]

    exact_g, sampled_g = {}, {}
    for rung in ("uniform", "mild", "heavy", "onehot"):
        df = spark.createDataFrame(ladder(rung), "k long, c long")
        exact = key_skew_gini(df, "k", "c", max_keys=None).collect()[0]
        # above-bound never triggers at 4000 keys
        same = key_skew_gini(df, "k", "c", max_keys=50_000).collect()[0]
        assert (exact.gini, exact.top1_share, exact.n_keys, exact.n_rows) == (
            same.gini, same.top1_share, same.n_keys, same.n_rows
        )
        samp = key_skew_gini(df, "k", "c", max_keys=4000).collect()[0]
        assert samp.n_keys == 20000  # full-frame cardinality still reported
        assert samp.top1_share == exact.top1_share  # exact on every path
        exact_g[rung] = exact.gini
        sampled_g[rung] = samp.gini
        assert abs(samp.gini - exact.gini) < 0.08, (rung, samp.gini, exact.gini)
    order = ["uniform", "mild", "heavy", "onehot"]
    assert [r for r in order] == sorted(order, key=lambda r: exact_g[r])
    assert [r for r in order] == sorted(order, key=lambda r: sampled_g[r])


def test_r7_batch2_plan_shapes(spark, sf_dir):
    """Quantiles/winsorize/user-overlap stay JVM-side and shuffle-minimal:
    no Python eval, no cartesian; the two rank-selecting queries obey the
    histogram invariant (every Exchange SinglePartition sits above an
    aggregate, never raw rows); winsorize broadcasts its |types|-row edge
    frame back onto the fact (no sort-merge); user-overlap never
    self-joins the distinct frame — the pair stream comes from ONE
    in-array explode and the totals ride broadcasts."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_quantiles_histogram", "q_winsorize", "q_user_overlap",
                 "q_latency_sla"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    for name in ("q_quantiles_histogram", "q_winsorize", "q_latency_sla"):
        simple = explain_str(
            REGISTRY[name].build(spark, sf_dir), mode="simple"
        )
        bad = _single_partition_exchanges_feed_aggregates(simple)
        assert not bad, (name, bad)

    for name in ("q_winsorize", "q_user_overlap"):
        simple = explain_str(
            REGISTRY[name].build(spark, sf_dir), mode="simple"
        )
        assert "SortMergeJoin" not in simple, (name, simple[:900])


def test_r7_batch3_plan_shapes(spark, sf_dir):
    """Benford/seq-length/trend-slope stay JVM-side, combinable, and
    join-light: no Python eval, no cartesian (benford's 1-row total rides
    a broadcast); seq-length never shuffles text (single scan, partial
    agg); trend-slope's |types|-row min frame broadcasts (no sort-merge)
    and the component groupBy is partial-aggregated."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_benford", "q_seq_length_buckets", "q_trend_slope"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_seq_length_buckets"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:900]
    assert "partial_count" in plan or "partial_sum" in plan, plan[:900]

    plan = explain_str(
        REGISTRY["q_trend_slope"].build(spark, sf_dir), mode="simple"
    )
    assert "SortMergeJoin" not in plan, plan[:900]
    assert "BroadcastHashJoin" in plan, plan[:900]


def test_r7_batch4_plan_shapes(spark, sf_dir):
    """Engagement metrics stay JVM-side and combinable: no Python eval,
    no cartesian; DAU/WAU's rolling distinct comes from the bounded 7x
    explode of the distinct user-day frame (never a range self-join);
    streaks' only window partitions per user (no global sort — no
    single-partition exchange over raw rows)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_dau_wau", "q_activity_streaks", "q_canonical_choice"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_activity_streaks"].build(spark, sf_dir), mode="simple"
    )
    assert "Exchange SinglePartition" not in simple, simple[:900]

    simple = explain_str(
        REGISTRY["q_canonical_choice"].build(spark, sf_dir), mode="simple"
    )
    # policy costs what dedup costs: one scan, no joins at all
    assert "Join" not in simple, simple[:900]


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 6),          # heavy duplicate pressure
            st.integers(0, 10**6),
        ),
        min_size=1,
        max_size=60,
    ),
    n_cells=st.sampled_from([1, 2, 7, 1024]),
)
def test_rank_select_matches_naive_sort(spark, rows, n_cells):
    """rank_select == the naive per-group sort for arbitrary duplicate-
    heavy data, every valid rank at once (first/median/last), any cell
    count (n_cells=1 degenerates to a single-cell selection and must
    still be exact), tiebreak respected, constant groups included."""
    from opc2mongodb_spark.operators.histogram import rank_select

    # unique tiebreaker ids
    data = [(g, float(v), i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v double, id long")
    exprs = [
        lambda n: F.lit(1),
        lambda n: F.floor((n + 1) / 2),
        lambda n: n,
    ]
    got = {
        (r.g, r.rank): r.v
        for r in rank_select(
            df, "v", exprs, group_cols=["g"], tiebreak_cols=["id"],
            n_cells=n_cells,
        ).collect()
    }
    expect = {}
    by_g: dict = {}
    for g, v, i in data:
        by_g.setdefault(g, []).append((v, i))
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        for rank in {1, (n + 1) // 2, n}:
            expect[(g, rank)] = vs[rank - 1][0]
    assert got == expect, (got, expect)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 6),          # heavy duplicate pressure
            st.integers(1, 5),          # positive integer weights
        ),
        min_size=1,
        max_size=40,
    ),
    n_cells=st.sampled_from([1, 2, 7, 1024]),
)
def test_rank_select_weighted_matches_expansion(spark, rows, n_cells):
    """rank_select(weight_col=...) == the naive sort of the
    weight-EXPANDED multiset (each row repeated w times), for
    first/weighted-median/last ranks, any cell count, duplicate values,
    tiebreak respected — the r8 weighted path never materializes that
    expansion but must match it exactly."""
    from opc2mongodb_spark.operators.histogram import rank_select

    data = [(g, float(v), w, i) for i, (g, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v double, w long, id long")
    exprs = [
        lambda n: F.lit(1),
        lambda n: F.floor((n + 1) / 2),
        lambda n: n,
    ]
    got = {
        (r.g, r.rank): (r.v, r.n)
        for r in rank_select(
            df, "v", exprs, group_cols=["g"], tiebreak_cols=["id"],
            n_cells=n_cells, weight_col="w",
        ).collect()
    }
    expect = {}
    by_g: dict = {}
    for g, v, w, i in data:
        by_g.setdefault(g, []).extend([(v, i)] * w)
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        for rank in {1, (n + 1) // 2, n}:
            expect[(g, rank)] = (vs[rank - 1][0], n)
    assert got == expect, (got, expect)


def test_r7_batch5_plan_shapes(spark, sf_dir):
    """Fan-out guard + storage profile: no Python eval, no cartesian
    (the 1-row byte total rides a broadcast); the fan-out guard joins
    KEY HISTOGRAMS, so no table column other than the key ever shuffles
    (scan schemas are single-column)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_join_fanout", "q_storage_profile"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_join_fanout"].build(spark, sf_dir))
    assert "ReadSchema: struct<o_custkey:bigint>" in plan, plan[-1500:]
    assert "ReadSchema: struct<c_custkey:bigint>" in plan, plan[-1500:]


def test_r7_batch6_plan_shapes(spark, sf_dir):
    """Concentration + peak-hour + markov + autocorr + weekday: no Python
    eval, no cartesian (1-row totals ride broadcasts); top-100 selects
    via TakeOrderedAndProject (never a global sort of the user-count
    frame); peak-hour is a single scan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_top100_share", "q_hourly_peak", "q_markov3",
                 "q_value_autocorr", "q_weekday_seasonality"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_top100_share"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:700]

    plan = explain_str(
        REGISTRY["q_hourly_peak"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:900]


def test_r8_batch1_plan_shapes(spark, sf_dir):
    """OHLC / flatline / concurrency / copurchase / attribution / PCA: no
    Python eval, no cartesian except the intended tiny broadcast
    cross-joins; OHLC is one combinable groupBy over a single scan (no
    window exchange); copurchase expands pairs in-array (no lineitem
    self-join: exactly 2 scans — baskets + part counts)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_ohlc_hourly", "q_flatline_runs", "q_peak_concurrency",
                 "q_copurchase", "q_touch_attribution", "q_gram_matrix",
                 "q_pca_power"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_ohlc_hourly"].build(spark, sf_dir), mode="simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:900]
    assert "Window" not in plan, plan[:900]

    # copurchase: part totals + order count re-derive from the SAME
    # baskets aggregate — at runtime the exchange is reused twice instead
    # of re-scanning lineitem per branch (reuse resolves at execution, so
    # assert on the executed plan).
    df = REGISTRY["q_copurchase"].build(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2, executed[:900]

    # attribution: both argmins fold into a groupBy — no Window operator
    plan = explain_str(
        REGISTRY["q_touch_attribution"].build(spark, sf_dir), mode="simple"
    )
    assert "Window" not in plan, plan[:900]


def test_power_iteration_matches_numpy(spark, sf_dir):
    """3-round quantized power iteration lands within 1e-4 of numpy's
    3-round float reference on the same Gram matrix (the quantization grid
    is 1e-9; divergence beyond 1e-4 would mean a wrong matvec, not
    rounding), and the peak component is exactly 1.0 by construction."""
    import numpy as np

    from opc2mongodb_spark.operators.pca import gram_matrix, power_iteration
    from opc2mongodb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    g = gram_matrix(emb, "embedding", 64)
    x = power_iteration(g, iters=3)
    got = {r["i"]: float(r["x"]) for r in x.collect()}

    rows = emb.select("embedding").collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    G = X.T @ X
    v = np.ones(64)
    for _ in range(3):
        y = G @ v
        m = y[np.argmax(np.abs(y))]
        v = y / m
    assert max(abs(got[i] - v[i]) for i in range(64)) < 1e-4
    assert max(abs(got[i]) for i in range(64)) == 1.0


def test_rayleigh_quotient_positive_and_dominant(spark, sf_dir):
    """lambda_est from the 3-round iterate is positive (Gram is PSD) and
    at least as large as the mean eigenvalue trace/D — the dominant
    eigenvalue always is."""
    from opc2mongodb_spark.operators.pca import (
        gram_matrix,
        power_iteration,
        rayleigh_quotient,
    )
    from opc2mongodb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    g = gram_matrix(emb, "embedding", 64)
    lam = rayleigh_quotient(g, power_iteration(g, iters=3)).collect()[0][0]
    trace = g.filter("i = j").groupBy().sum("g").collect()[0][0]
    assert lam > 0
    assert lam >= float(trace) / 64.0


def test_r8_batch2_plan_shapes(spark, sf_dir):
    """Label noise + conversion lag: no Python eval; label-noise's only
    cross-join is the broadcast |labels|-row centroid table (vectors
    never shuffle to a join); conversion-lag has no single-partition
    global-sort window (the rank-selection discipline)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_label_noise", "q_conversion_lag"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_label_noise"].build(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan[:700]

    # conversion-lag rides the rank-selection decomposition: the __cell
    # machinery is present and every Exchange SinglePartition sits above
    # an aggregate (<=1024-row frames), never above raw rows
    df = REGISTRY["q_conversion_lag"].build(spark, sf_dir)
    simple = explain_str(df, mode="simple")
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad


def test_r8_batch4_plan_shapes(spark, sf_dir):
    """Bitmap / interval-union / weighted-median / RRF / top-paths: no
    Python eval, no cartesian; the bitmap word rollup is derived ONCE
    (checkpointed) no matter how many consumers read it; weighted median
    actually goes through the cell decomposition; top-paths ends in a
    distributed top-k, not a global sort."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_bitmap_distinct", "q_interval_union",
                 "q_weighted_median", "q_rrf_fusion", "q_top_paths"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    # bitmap: after the lazy localCheckpoint materializes, every consumer
    # (totals + both self-join sides) reads the |users|/63-word rollup —
    # the raw-events distinct + bit_or ran exactly once, so the final
    # job's executed plan holds NO parquet scan at all
    df = REGISTRY["q_bitmap_distinct"].build(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("FileScan parquet") == 0, executed[:900]

    # weighted median rides the shared histogram cell decomposition
    simple = explain_str(
        REGISTRY["q_weighted_median"].build(spark, sf_dir), mode="simple"
    )
    assert "__cell" in simple, simple[:900]

    # top-paths: distributed top-20, never a full global sort of paths
    simple = explain_str(
        REGISTRY["q_top_paths"].build(spark, sf_dir), mode="simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:900]


def test_r8_batch6_plan_shapes(spark, sf_dir):
    """Model-eval & feature-audit batch: no Python eval, no cartesian,
    no raw-row single-partition collapse anywhere; AUC rides the shared
    histogram cell decomposition and (like mutual-info) derives its
    shared rollup ONCE; the per-user/per-series windows are partitioned;
    every query touches the events scan exactly once in the executed
    final plan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    batch = (
        "q_auc_roc",
        "q_ndcg",
        "q_mutual_info",
        "q_theilsen_slope",
        "q_feature_corr",
    )
    for name in batch:
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), mode="simple")
        bad = _single_partition_exchanges_feed_aggregates(simple)
        assert not bad, (name, bad)

    # AUC ranks via the 1024-cell decomposition, never per-row ranks
    simple = explain_str(
        REGISTRY["q_auc_roc"].build(spark, sf_dir), mode="simple"
    )
    assert "__cell" in simple, simple[:900]

    # shared-rollup queries re-read their cached frame, not the scan:
    # exactly ONE parquet scan in the executed FINAL plan (the
    # AdaptiveSparkPlan string also embeds the Initial Plan — split it
    # off before counting)
    for name in batch:
        df = REGISTRY[name].build(spark, sf_dir)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        final = executed.split("== Initial Plan ==")[0]
        assert final.count("FileScan parquet") == 1, (
            name,
            final.count("FileScan parquet"),
        )


def test_r8_batch7_plan_shapes(spark, sf_dir):
    """Forecast-error / encoding / assortativity / percentile batch: no
    Python eval, no cartesian, no raw single-partition collapse; the
    shared hourly / (cat,fold) / edge frames derive once (executed-plan
    scan counts), and percentile_cont rides the histogram cells."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    batch = (
        "q_mase_forecast",
        "q_target_encoding",
        "q_degree_assortativity",
        "q_percentile_cont",
    )
    for name in batch:
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), mode="simple")
        bad = _single_partition_exchanges_feed_aggregates(simple)
        assert not bad, (name, bad)

    assert "__cell" in explain_str(
        REGISTRY["q_percentile_cont"].build(spark, sf_dir), mode="simple"
    )

    # shared-frame derivations run once: 1 events scan for the persisted
    # hourly/(cat,fold) rollups, 2 scans (orders+lineitem) for the
    # persisted edge list
    for name, want in (
        ("q_mase_forecast", 1),
        ("q_target_encoding", 1),
        ("q_degree_assortativity", 2),
    ):
        df = REGISTRY[name].build(spark, sf_dir)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        final = executed.split("== Initial Plan ==")[0]
        assert final.count("FileScan parquet") == want, name


@settings(max_examples=8, deadline=None)
@given(left=records, right=records)
def test_asof_join_forward_matches_bruteforce(spark, left, right):
    """direction="forward" = EARLIEST right at-or-after each left ts; ties
    on ts take the SMALLEST tiebreak (mirror of backward's greatest)."""
    ldf = _df(spark, left)
    rdf = _df(spark, right)
    out = asof_join(
        ldf, rdf, on=["key"], left_ts="ts", right_ts="ts",
        right_cols=["value"], right_tiebreak="seq", direction="forward",
    ).collect()
    assert len(out) == len(left)
    rights = [
        (k, BASE + timedelta(seconds=t), float(v), i)
        for i, (k, t, v) in enumerate(right)
    ]
    for r in out:
        cands = [
            (ts, seq, v)
            for (k, ts, v, seq) in rights
            if k == r.key and ts >= r.ts
        ]
        if not cands:
            assert r.value_asof is None and r.ts_asof is None
        else:
            ts, seq, v = min(cands)
            assert r.value_asof == v, (r, cands)
            assert r.ts_asof == ts


def test_asof_forward_tolerance_masks_far_future(spark):
    """Forward tolerance bounds LOOKAHEAD: a following right row farther
    than left_ts + tolerance is masked to NULL atomically."""
    t = lambda s: datetime(2024, 1, 1, 10, 0, s)
    left = spark.createDataFrame(
        [(1, t(0)), (2, t(0))], ["key", "ts"]
    )
    right = spark.createDataFrame(
        [(1, t(20), 111.0, 1), (2, t(50), 222.0, 2)],
        ["key", "ts", "value", "seq"],
    )
    out = {
        r.key: r
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="ts",
            right_cols=["value"], right_tiebreak="seq",
            direction="forward", tolerance="30 SECOND",
        ).collect()
    }
    assert out[1].value_asof == 111.0 and out[1].ts_asof == t(20)
    assert out[2].value_asof is None and out[2].ts_asof is None


def test_r8_batch8_plan_shapes(spark, sf_dir):
    """forward as-of / null-safe join / windowed count-distinct / JSON
    schema profile: no Python eval, no cartesian; forward as-of keeps the
    merge-union single-exchange contract; the null-safe join plans as a
    BroadcastHashJoin (EqualNullSafe is an equi-join key, not a filter on
    a cross product); both count-distinct windows share ONE user_id
    exchange; the JSON profile is one scan + one generator into a
    partial-aggregable groupBy."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_join_asof_fwd", "q_null_safe_join",
                 "q_window_count_distinct", "q_json_schema_profile"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    plan = explain_str(
        REGISTRY["q_join_asof_fwd"].build(spark, sf_dir), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan

    plan = explain_str(
        REGISTRY["q_null_safe_join"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in plan, plan[:900]

    plan = explain_str(
        REGISTRY["q_window_count_distinct"].build(spark, sf_dir), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan

    plan = explain_str(
        REGISTRY["q_json_schema_profile"].build(spark, sf_dir), "simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:900]
    assert "Generate explode" in plan, plan[:900]


def test_bfs_distances_chain_unreachable_early_exit(spark):
    """bfs_distances: hop distances on a directed chain with a branch; a
    disconnected node never appears; max_hops truncates; an exhausted
    frontier exits early without burning remaining rounds."""
    from opc2mongodb_spark.operators.components import bfs_distances

    # 1 -> 2 -> 3 -> 4, 2 -> 5; 99 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, seeds, max_hops=10, id_col="node").collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 2}, got

    truncated = {
        r.node: r.dist
        for r in bfs_distances(edges, seeds, max_hops=1, id_col="node").collect()
    }
    assert truncated == {1: 0, 2: 1}, truncated

    # revisits do not overwrite shorter distances (cycle back to the seed)
    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    got = {
        r.node: r.dist
        for r in bfs_distances(cyc, seeds, max_hops=5, id_col="node").collect()
    }
    assert got == {1: 0, 2: 1}, got


def test_r8_batch9_plan_shapes(spark, sf_dir):
    """FD profiling / hysteresis alarms: no Python eval, no cartesian; the
    FD candidates are each a partial-aggregable rollup (1-row frames
    unioned — no global sort anywhere); both hysteresis windows share the
    event_type partitioning so the whole query is ONE exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_fd_violations", "q_hysteresis_alarms"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_hysteresis_alarms"].build(spark, sf_dir), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Sort" in plan

    plan = explain_str(
        REGISTRY["q_fd_violations"].build(spark, sf_dir), "simple"
    )
    assert "Sort [" not in plan, plan[:900]


def test_r8_batch10_plan_shapes(spark, sf_dir):
    """rolling z-score / CDC apply / bot regularity: no Python eval, no
    cartesian; cdc_apply is ONE combinable struct-max groupBy (no Window
    operator); bot_regularity's lag window and groupBy share a single
    user_id exchange; rolling z-score is one event_type exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_rolling_zscore", "q_cdc_apply", "q_bot_regularity"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_cdc_apply"].build(spark, sf_dir), "simple")
    assert "Window" not in plan, plan[:900]
    assert "partial_max" in plan or "HashAggregate" in plan, plan[:900]

    for name in ("q_bot_regularity", "q_rolling_zscore"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)


def test_mmr_rerank_matches_numpy_greedy(spark):
    """mmr_rerank equals a direct numpy greedy replay (same tie rule:
    smallest doc_id on equal objective); rank 1 is the pure-relevance
    argmax; a near-duplicate of the top hit is demoted below a less
    relevant but diverse candidate; lam=1 degenerates to relevance order."""
    import numpy as np

    from opc2mongodb_spark.operators.similarity import mmr_rerank

    rows = [
        # query 1: docs 10/11 nearly identical, 12 orthogonal-ish
        (1, 10, 0.99, [1.0, 0.0, 0.0]),
        (1, 11, 0.98, [0.999, 0.04, 0.0]),
        (1, 12, 0.70, [0.0, 1.0, 0.0]),
        (1, 13, 0.60, [0.0, 0.9, 0.4]),
        # query 2: exercises the zero-vector guard + ties
        (2, 20, 0.50, [0.0, 0.0, 0.0]),
        (2, 21, 0.50, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["query_id", "doc_id", "rel", "embedding"])
    lam = 0.5
    got = {
        (r.query_id, r.mmr_rank): (r.doc_id, r.mmr_score)
        for r in mmr_rerank(df, k=3, lam=lam).collect()
    }

    def replay(cands, k):
        ids = [c[0] for c in cands]
        rel = np.array([c[1] for c in cands])
        vecs = np.array([c[2] for c in cands], dtype=np.float64)
        nrm = np.sqrt((vecs * vecs).sum(axis=1))
        nrm[nrm == 0] = 1.0
        unit = vecs / nrm[:, None]
        picked, max_sim = [], np.zeros(len(cands))
        remaining = set(range(len(cands)))
        out = []
        for _ in range(min(k, len(cands))):
            best = min(
                remaining,
                key=lambda i: (-(lam * rel[i] - (1 - lam) * max_sim[i]), ids[i]),
            )
            out.append((ids[best], lam * rel[best] - (1 - lam) * max_sim[best]))
            picked.append(best)
            remaining.discard(best)
            max_sim = np.maximum(max_sim, unit @ unit[best])
        return out

    for qid in (1, 2):
        cands = sorted(
            [(d, r, v) for (q, d, r, v) in rows if q == qid]
        )
        exp = replay(cands, 3)
        for rank, (doc, score) in enumerate(exp, start=1):
            gdoc, gscore = got[(qid, rank)]
            assert gdoc == doc, (qid, rank, got)
            assert abs(gscore - score) < 1e-12

    # the diversity property itself: with lam=0.5 the near-dup of the top
    # hit must NOT be rank 2
    assert got[(1, 1)][0] == 10
    assert got[(1, 2)][0] == 12, got

    # lam=1: pure relevance order, ties by id
    pure = [
        r.doc_id
        for r in mmr_rerank(df, k=4, lam=1.0)
        .filter(F.col("query_id") == 1)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert pure == [10, 11, 12, 13], pure


def test_r8_batch11_plan_shapes(spark, sf_dir):
    """prefix-dup / NZV screen: no Python eval, no cartesian; prefix_dup
    is one scan into one combinable groupBy (text never shuffles —
    projections carry only hashes and lengths past the exchange)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_prefix_dup", "q_feature_nzv", "q_tokenizer_fertility"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_prefix_dup"].build(spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1, plan[:900]
    # the exchange moves hashes, never document text
    exchange_tail = plan[plan.index("Exchange"):]
    assert "norm" not in exchange_tail.split("HashAggregate")[0], plan[:1200]


@settings(max_examples=6, deadline=None)
@given(
    e=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=14,
    ),
    seeds=st.sets(st.integers(0, 7), min_size=1, max_size=3),
)
def test_bfs_distances_matches_python_bfs(spark, e, seeds):
    """bfs_distances equals a direct Python BFS on random small digraphs
    (self-loops and parallel edges included) from random seed sets."""
    from collections import deque

    from opc2mongodb_spark.operators.components import bfs_distances

    edges = spark.createDataFrame(e, ["src", "dst"])
    seed_df = spark.createDataFrame([(s,) for s in seeds], ["node"])
    got = {
        r.node: r.dist
        for r in bfs_distances(edges, seed_df, max_hops=4, id_col="node").collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if dist[u] >= 4:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    assert got == dist, (got, dist, e, seeds)


def test_r8_batch12_plan_shapes(spark, sf_dir):
    """batch 12 (cume_dist / item-item cosine / grid density / ER blocking
    / Kaplan-Meier / negative sampling): no Python eval, no cartesian
    anywhere (the 1-row scalar cross joins must come out as broadcast
    nested-loop, never CartesianProduct); grid_density is ONE combinable
    groupBy with no Window; cume_dist is a single event_type exchange;
    item-item norms join twice as broadcast."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    batch = (
        "q_window_cume_dist",
        "q_item_item_cosine",
        "q_grid_density",
        "q_entity_blocking",
        "q_kaplan_meier",
        "q_negative_sampling",
    )
    for name in batch:
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_grid_density"].build(spark, sf_dir), "simple")
    assert "Window" not in plan, plan[:900]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:900]
    assert "partial_count" in plan, plan[:900]

    plan = explain_str(
        REGISTRY["q_window_cume_dist"].build(spark, sf_dir), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:900]

    plan = explain_str(
        REGISTRY["q_item_item_cosine"].build(spark, sf_dir), "simple"
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1200]


def test_r8_batch13_plan_shapes(spark, sf_dir):
    """batch 13 (log volatility / DP noisy counts / CUPED / link
    prediction): no Python eval, no cartesian (CUPED's two scalar cross
    joins must be broadcast nested-loop); volatility's lag window and
    groupBy share ONE event_type exchange; dp counts is one combinable
    groupBy with no window; link prediction's degree joins broadcast."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    batch = (
        "q_log_volatility",
        "q_dp_noisy_counts",
        "q_cuped_adjusted",
        "q_link_prediction",
    )
    for name in batch:
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_log_volatility"].build(spark, sf_dir), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:900]

    plan = explain_str(
        REGISTRY["q_dp_noisy_counts"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]
    assert "partial_count" in plan, plan[:900]

    plan = explain_str(
        REGISTRY["q_link_prediction"].build(spark, sf_dir), "simple"
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1200]


def test_link_prediction_dense_hub_cap(spark):
    """r11 VERDICT #4: q_link_prediction's per-part fan-out must be
    hard-capped. A 100-supplier hub part demotes to the CAP lowest
    supplier ids (C(CAP,2) pairs, not C(100,2)); below the bound the cap
    is a no-op; degrees stay TRUE degrees; and the registered oracle SQL
    pins the same literal bound."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.recsys_windows import (
        LINKPRED_PART_CAP,
        _link_prediction_core,
    )

    cap = LINKPRED_PART_CAP
    # two hub parts sharing 100 suppliers -> every surviving pair has
    # common_parts == 2 and true degree 2
    hub = [(p, s) for p in (1, 2) for s in range(100)]
    ps = spark.createDataFrame(hub, ["p", "s"])
    out = _link_prediction_core(ps).collect()
    assert len(out) == cap * (cap - 1) // 2  # C(64,2)=2016, not C(100,2)=4950
    assert all(r.common_parts == 2 for r in out)
    # survivors are the CAP lowest supplier ids — the deterministic rule
    assert max(max(r.supp_a, r.supp_b) for r in out) == cap - 1
    # denominator uses TRUE degree (2+2-2=2), not a capped one
    assert all(r.jaccard_e9 == 1_000_000_000 for r in out)

    # below the bound the cap is a no-op: identical to an uncapped run
    small = [(p, s) for p in (1, 2, 3) for s in range(10)]
    ps_small = spark.createDataFrame(small, ["p", "s"])
    capped = sorted(map(tuple, _link_prediction_core(ps_small).collect()))
    uncapped = sorted(
        map(tuple, _link_prediction_core(ps_small, cap=10**9).collect())
    )
    assert capped == uncapped and len(capped) == 10 * 9 // 2

    # the oracle SQL carries the SAME literal bound
    m = re.search(r"rn <= (\d+)", REGISTRY["q_link_prediction"].oracle)
    assert m and int(m.group(1)) == cap


def test_item_item_cosine_heavy_user_cap(spark):
    """r12: the same cap discipline for q_item_item_cosine's user-keyed
    self-join — a 300-item heavy user contributes C(cap,2) pairs (items
    demoted to the cap lexicographically-lowest), norms stay TRUE per-item
    counts, below-bound frames are untouched, and the oracle SQL pins the
    same literal."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.recsys_windows import (
        ITEM_COSINE_USER_CAP,
        _item_item_cosine_core,
    )

    # heavy user u0 with 300 items; u1 shares items 0 and 1 so the
    # surviving pair (i000, i001) has co_users=2 and TRUE norms 2,2
    heavy = [("u0", f"i{k:03d}") for k in range(300)]
    small = [("u1", "i000"), ("u1", "i001")]
    ui = spark.createDataFrame(heavy + small, ["user_id", "event_type"])
    cap = 16
    out = _item_item_cosine_core(ui, cap=cap).collect()
    # u0 contributes C(16,2); the (i000,i001) pair is shared with u1
    assert len(out) == cap * (cap - 1) // 2
    assert max(max(r.item_a, r.item_b) for r in out) == f"i{cap - 1:03d}"
    top = {(r.item_a, r.item_b): r for r in out}
    r2 = top[("i000", "i001")]
    assert r2.co_users == 2
    # norms are true degrees: cosine = 2/sqrt(2*2) = 1.0
    assert r2.cosine_e9 == 1_000_000_000

    # below the bound: capped == uncapped
    ui_small = spark.createDataFrame(
        [(u, f"i{k}") for u in ("a", "b") for k in range(5)],
        ["user_id", "event_type"],
    )
    capped = sorted(map(tuple, _item_item_cosine_core(ui_small, cap=16).collect()))
    uncapped = sorted(
        map(tuple, _item_item_cosine_core(ui_small, cap=10**9).collect())
    )
    default = sorted(map(tuple, _item_item_cosine_core(ui_small).collect()))
    assert capped == uncapped == default and len(capped) == 5 * 4 // 2

    m = re.search(r"rn <= (\d+)", REGISTRY["q_item_item_cosine"].oracle)
    assert m and int(m.group(1)) == ITEM_COSINE_USER_CAP


def test_copurchase_mega_basket_cap(spark):
    """r12: q_copurchase's in-array pair expansion must bound per-order
    work at C(cap,2) for a pathological mega-order, keep the cap lowest
    part ids, be a no-op below the bound, and pin the same literal in the
    oracle SQL."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.telemetry_linalg import (
        COPURCHASE_BASKET_CAP,
        _basket_pairs_arr,
    )

    from pyspark.sql import functions as F

    mega = spark.createDataFrame(
        [(1, k) for k in range(300)], ["l_orderkey", "l_partkey"]
    )
    baskets = mega.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    cap = COPURCHASE_BASKET_CAP
    out = baskets.select(
        F.size(_basket_pairs_arr()).alias("n"),
        F.array_max(
            F.transform(_basket_pairs_arr(), lambda p: p.part_b)
        ).alias("mx"),
    ).first()
    assert out.n == cap * (cap - 1) // 2  # C(256,2), not C(300,2)
    assert out.mx == cap - 1  # survivors are the cap LOWEST part ids

    # below the bound: capped == uncapped
    small = spark.createDataFrame(
        [(1, k) for k in range(7)], ["l_orderkey", "l_partkey"]
    ).groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    capped = small.select(F.explode(_basket_pairs_arr()).alias("p")).collect()
    uncapped = small.select(
        F.explode(_basket_pairs_arr(cap=10**6)).alias("p")
    ).collect()
    assert sorted(map(str, capped)) == sorted(map(str, uncapped))
    assert len(capped) == 7 * 6 // 2

    m = re.search(r"rn <= (\d+)", REGISTRY["q_copurchase"].oracle)
    assert m and int(m.group(1)) == cap


def test_fanout_cap_conf_escape_hatch(spark, sf_dir):
    """r12: the three fan-out caps take a spark.sparkGraft.* conf override
    (the prefixBroadcastCap pattern) — cap=1 collapses every pair
    generator to zero pairs, and unsetting restores the default build."""
    from opc2mongodb_spark.queries import REGISTRY

    cases = {
        "q_item_item_cosine": "spark.sparkGraft.itemCosineUserCap",
        "q_link_prediction": "spark.sparkGraft.linkpredPartCap",
        "q_copurchase": "spark.sparkGraft.copurchaseBasketCap",
    }
    for name, key in cases.items():
        baseline = REGISTRY[name].build(spark, sf_dir).count()
        assert baseline > 0, name
        spark.conf.set(key, "1")
        try:
            assert REGISTRY[name].build(spark, sf_dir).count() == 0, name
        finally:
            spark.conf.unset(key)
        assert REGISTRY[name].build(spark, sf_dir).count() == baseline, name


def test_hard_negatives_anchor_cap(spark, sf_dir):
    """r12 scale rotation's first cohort-0 find: q_hard_negatives' %-20
    anchor sample grew WITH the corpus, making the broadcast scoring
    O(n^2/20) — ~100x time for 10x output at sf1, slope-flagged. The
    anchor batch is now bounded at HARD_NEG_ANCHOR_CAP lowest ids
    (TakeOrdered, no global window): the conf hatch collapses it to the
    single lowest anchor, unsetting restores the default build, and the
    oracle SQL pins the same literal."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.privacy_drift import HARD_NEG_ANCHOR_CAP

    m = re.search(
        r"ORDER BY vec_id LIMIT (\d+)", REGISTRY["q_hard_negatives"].oracle
    )
    assert m and int(m.group(1)) == HARD_NEG_ANCHOR_CAP

    baseline = REGISTRY["q_hard_negatives"].build(spark, sf_dir).count()
    # sf0.001 has 3 %-20 anchors — far under the cap, so the cap is a
    # no-op at oracle SFs (the oracle MATCH proves exactness separately)
    assert 0 < baseline <= HARD_NEG_ANCHOR_CAP
    spark.conf.set("spark.sparkGraft.hardNegAnchorCap", "1")
    try:
        rows = REGISTRY["q_hard_negatives"].build(spark, sf_dir).collect()
        assert len(rows) == 1 and rows[0].a_id == 0  # lowest anchor id
    finally:
        spark.conf.unset("spark.sparkGraft.hardNegAnchorCap")
    assert (
        REGISTRY["q_hard_negatives"].build(spark, sf_dir).count() == baseline
    )


def test_knn_loo_candidate_cap(spark, sf_dir):
    """r12: q_knn_loo's bucket self-join is bounded on the candidate side
    at KNN_LOO_CAND_CAP lowest ids per bucket (O(n x cap), not O(n^2/16)
    when bucket sizes outgrow the fixed 4-bit width). The conf hatch
    shrinks scoring work, unsetting restores the default build, and the
    oracle SQL pins the same literal."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.stat_tests import KNN_LOO_CAND_CAP

    m = re.search(r"crn <= (\d+)", REGISTRY["q_knn_loo"].oracle)
    assert m and int(m.group(1)) == KNN_LOO_CAND_CAP

    base = {
        r.label: (r.n_scored, r.n_match)
        for r in REGISTRY["q_knn_loo"].build(spark, sf_dir).collect()
    }
    assert base and all(n > 0 for n, _ in base.values())
    spark.conf.set("spark.sparkGraft.knnLooCandCap", "1")
    try:
        capped = {
            r.label: r.n_scored
            for r in REGISTRY["q_knn_loo"].build(spark, sf_dir).collect()
        }
        # one candidate per bucket: bucket-lowest vectors lose their only
        # partner, so strictly fewer vectors get scored than uncapped
        assert sum(capped.values()) < sum(n for n, _ in base.values())
    finally:
        spark.conf.unset("spark.sparkGraft.knnLooCandCap")
    after = {
        r.label: (r.n_scored, r.n_match)
        for r in REGISTRY["q_knn_loo"].build(spark, sf_dir).collect()
    }
    assert after == base


def test_er_match_scores_block_candidate_cap(spark, sf_dir):
    """r12 cohort-1 scale rotation find: q_er_match_scores' (segment,
    nation) blocking keys are a FIXED 125-block space, so block self-join
    pairs grew quadratically with flat output (33.5x time for 1.0x at
    sf1). The candidate side is now capped at ER_BLOCK_CAND_CAP lowest
    custkeys per block; conf hatch shrinks the pair count, unsetting
    restores the default build, oracle SQL pins the same literal."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.recsys_windows import ER_BLOCK_CAND_CAP

    m = re.search(r"crn <= (\d+)", REGISTRY["q_er_match_scores"].oracle)
    assert m and int(m.group(1)) == ER_BLOCK_CAND_CAP

    base = REGISTRY["q_er_match_scores"].build(spark, sf_dir).collect()[0]
    assert base.n_pairs > 0
    spark.conf.set("spark.sparkGraft.erBlockCandCap", "1")
    try:
        capped = (
            REGISTRY["q_er_match_scores"].build(spark, sf_dir).collect()[0]
        )
        # one candidate per block: the sole candidate is the block's
        # LOWEST custkey, and a.custkey < b.custkey means no a-row sits
        # below it — every block contributes zero pairs
        assert capped.n_pairs == 0
    finally:
        spark.conf.unset("spark.sparkGraft.erBlockCandCap")
    after = REGISTRY["q_er_match_scores"].build(spark, sf_dir).collect()[0]
    assert after == base


def test_winnow_overlap_hot_fingerprint_cap(spark, sf_dir):
    """r12 cohort-3 scale rotation find: q_winnow_overlap's fingerprint
    self-join had no ubiquity bound, so template-family fingerprints
    shared by hundreds of docs made it quadratic (345 s at sf0.1).
    Fingerprints in more than WINNOW_HOT_FP_CAP docs are excluded (MOSS's
    rule); cap=1 keeps only single-doc fingerprints — zero pairs — and
    unsetting restores the default build; oracle pins the literal."""
    import re

    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.queries.widening import WINNOW_HOT_FP_CAP

    m = re.search(r"cnt\.c <= (\d+)", REGISTRY["q_winnow_overlap"].oracle)
    assert m and int(m.group(1)) == WINNOW_HOT_FP_CAP

    base = REGISTRY["q_winnow_overlap"].build(spark, sf_dir).count()
    assert base > 0
    spark.conf.set("spark.sparkGraft.winnowHotFpCap", "1")
    try:
        assert REGISTRY["q_winnow_overlap"].build(spark, sf_dir).count() == 0
    finally:
        spark.conf.unset("spark.sparkGraft.winnowHotFpCap")
    assert REGISTRY["q_winnow_overlap"].build(spark, sf_dir).count() == base


def test_r8_batch14_plan_shapes(spark, sf_dir):
    """batch 14 (funnel latency / power analysis): no Python eval, no
    cartesian; power analysis is one combinable user rollup into a 1-row
    stats frame (no Window, no global sort); funnel latency's step
    filters push the event_type predicate into the scans."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_funnel_latency", "q_power_analysis"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_power_analysis"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]

    plan = explain_str(
        REGISTRY["q_funnel_latency"].build(spark, sf_dir), "formatted"
    )
    assert "PushedFilters" in plan and "view" in plan, plan[:1500]


def test_r8_batch15_plan_shapes(spark, sf_dir):
    """batch 15 (SLO burn / cohort LTV / hour entropy): no Python eval,
    no cartesian (the burn-rate anchor is a broadcast nested-loop); the
    LTV purchase slice reaches the scan as a pushed filter and its
    cumulative window runs over the post-aggregation triangle (window
    AFTER both HashAggregates, never raw events); hour entropy has no
    Window operator at all."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_slo_burn_rate",
        "q_cohort_revenue_ltv",
        "q_active_hours_entropy",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_cohort_revenue_ltv"].build(spark, sf_dir), "formatted"
    )
    assert "purchase" in plan, plan[:1500]

    plan = explain_str(
        REGISTRY["q_active_hours_entropy"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]


def test_r8_batch16_plan_shapes(spark, sf_dir):
    """batch 16 (Shapley attribution / ACF profile): no Python eval, no
    cartesian; Shapley is integer-exact groupBys (no Window operator);
    the ACF profile's six lags share ONE Window operator (one
    sort+exchange), with the 6x stacking done by a generator over the
    materialized lag columns, never a re-scan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_shapley_attribution", "q_acf_profile"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_shapley_attribution"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]

    plan = explain_str(REGISTRY["q_acf_profile"].build(spark, sf_dir), "simple")
    assert plan.count("Window") == 1, plan[:1200]
    assert plan.count("FileScan parquet") == 1, plan[:1200]
    assert "Generate" in plan, plan[:1200]


def test_r8_batch17_plan_shapes(spark, sf_dir):
    """batch 17 (FS field weights / round-number bias): no Python eval,
    no cartesian; the three FS fields stack through ONE generator over
    ONE customer scan (no 3-way self-union rescans); round-number bias
    is one combinable groupBy with no Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_fs_field_weights", "q_round_number_bias"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_fs_field_weights"].build(spark, sf_dir), "simple"
    )
    assert plan.count("FileScan parquet") == 1, plan[:1200]
    assert "Generate" in plan, plan[:1200]

    plan = explain_str(
        REGISTRY["q_round_number_bias"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:900]


def test_r8_batch18_plan_shapes(spark, sf_dir):
    """batch 18 (Mann-Kendall / unordered funnel): no Python eval, no
    cartesian; MK's pair join is equi-keyed on event_type (never a
    cross product — the 2016-pair cap lives in the latest-64 window);
    the funnel cube is two combinable groupBys with no Window, no join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_mann_kendall", "q_unordered_funnel"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_unordered_funnel"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]
    assert "Join" not in plan, plan[:900]


def test_r8_batch19_plan_shapes(spark, sf_dir):
    """batch 19 (Ljung-Box / survival summary / Lorenz deciles): no
    Python eval, no cartesian (Lorenz's edge-array and total frames are
    broadcast nested-loop); Ljung-Box shares the q_acf_profile shape —
    ONE Window, one scan, generator stacking; survival summary's spine
    windows run over the post-aggregation lifetime table (window AFTER
    the HashAggregates); Lorenz has no single-task global sort of the
    user frame (its only Window is the 10-row decile spine — the
    rank-selection subtree is window-free by construction)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_ljung_box", "q_survival_summary", "q_lorenz_deciles"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(REGISTRY["q_ljung_box"].build(spark, sf_dir), "simple")
    assert plan.count("Window") == 1, plan[:1200]
    assert "Generate" in plan, plan[:1200]

    # Lorenz rides the rank-selection decomposition: the __cell machinery
    # is present and every Exchange SinglePartition sits above an
    # aggregate (bounded frames: cells / edges / the 10-row spine), never
    # above the raw user-revenue rows
    simple = explain_str(
        REGISTRY["q_lorenz_deciles"].build(spark, sf_dir), "simple"
    )
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad


def test_r8_batch20_plan_shapes(spark, sf_dir):
    """batch 20 (decay attribution / ratio-metric delta SE): no Python
    eval, no cartesian; decay attribution is join + combinable rollup
    with no Window; the delta-method query is one user rollup into a
    2-row arm fold — no Window, no join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_decay_attribution", "q_ratio_metric_delta"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), "simple")
        assert "Window" not in simple, (name, simple[:900])

    plan = explain_str(
        REGISTRY["q_ratio_metric_delta"].build(spark, sf_dir), "simple"
    )
    assert "Join" not in plan, plan[:900]


def test_r8_batch21_plan_shapes(spark, sf_dir):
    """batch 21 (U-shaped attribution / retention curve fit): no Python
    eval, no cartesian; U-shape's rn and k windows share ONE user_id
    partition (the ranked frame has exactly one hashpartitioning
    exchange feeding its Window pair); the retention fit's lns apply
    only AFTER the triangle aggregation (no ln over raw events — the
    regression fold is a 1-row frame)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_u_shape_attribution", "q_retention_curve_fit"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r8_batch22_plan_shapes(spark, sf_dir):
    """batch 22 (ER match scores): no Python eval, no cartesian beyond
    the broadcast 1-row weight frame (BroadcastNestedLoopJoin, never
    CartesianProduct); the candidate pair join is block-KEYED (an
    equi-join on segment+nation), and the final summary is a 1-row
    aggregate."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["q_er_match_scores"].build(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan

    simple = explain_str(
        REGISTRY["q_er_match_scores"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastNestedLoopJoin" in simple, simple[:1200]


def test_r8_batch23_plan_shapes(spark, sf_dir):
    """batch 23 (Fourier daily / Heaps fit / user feature table): no
    Python eval, no cartesian (the feature table's anchor is a broadcast
    nested-loop); the Fourier trig runs only over the 24-cell hourly
    aggregate (the scan feeds a HashAggregate before any cos/sin
    projection); the feature table is ONE combinable groupBy (single
    hashpartitioning exchange for its aggregate)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_fourier_daily", "q_heaps_fit", "q_user_feature_table"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_fourier_daily"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan[:900]
    # trig appears only above the first aggregate: the scan-side project
    # (below the first Exchange) must not contain COS/SIN
    first_exchange = plan.index("Exchange")
    assert "COS" not in plan[first_exchange:].split("HashAggregate")[0]


def test_r8_batch24_plan_shapes(spark, sf_dir):
    """batch 24 (Markov conditional entropy / dup-size histogram / token
    dispersion): no Python eval, no cartesian (dispersion's vocabulary
    and n_docs frames broadcast); the dup histogram never shuffles text
    (its exchanges move md5 fingerprints and integers only); the
    conditional entropy's window and first rollup stay |states|^2-
    bounded after one user_id exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_markov_cond_entropy",
        "q_dup_size_histogram",
        "q_token_dispersion",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    plan = explain_str(
        REGISTRY["q_dup_size_histogram"].build(spark, sf_dir), "simple"
    )
    # text reaches only the md5 projection below the FIRST exchange;
    # nothing after an Exchange may reference the text column
    after_first = plan[plan.index("Exchange"):]
    assert "text" not in after_first.split("HashAggregate")[0], plan[:1200]


def test_r8_batch25_plan_shapes(spark, sf_dir):
    """batch 25 (ngram novelty / decision stump / alarm excursions): no
    Python eval, no cartesian; the stump's cumulative windows run ONLY
    over the |bands|-row cell table (every Exchange SinglePartition is
    aggregate-bounded); the excursion query's two row_numbers share one
    event_type exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_ngram_novelty", "q_decision_stump", "q_alarm_excursions"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_decision_stump"].build(spark, sf_dir), "simple"
    )
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_alarm_excursions"].build(spark, sf_dir), "simple"
    )
    assert simple.count("Exchange hashpartitioning") <= 2, simple[:1200]


def test_r8_batch26_plan_shapes(spark, sf_dir):
    """batch 26 (capture-recapture / weekend effect): no Python eval, no
    cartesian (the week anchor broadcasts); both are combinable rollups
    with no Window operator anywhere."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_capture_recapture", "q_weekend_effect"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), "simple")
        assert "Window" not in simple, (name, simple[:900])


def test_r8_batch27_plan_shapes(spark, sf_dir):
    """batch 27 (bandit replay / Naive-Bayes propensity): no Python
    eval, no cartesian; replay's policy argmax window runs over the
    |actions|-row training table (aggregate-bounded SinglePartition
    only); NB's weight table broadcasts back onto the user frame."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_bandit_replay", "q_naive_bayes_propensity"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_bandit_replay"].build(spark, sf_dir), "simple"
    )
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_naive_bayes_propensity"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]


def test_r8_batch28_plan_shapes(spark, sf_dir):
    """batch 28 (hourly envelope / DiD): no Python eval, no cartesian;
    the envelope rides the rank-selection decomposition (__cell present,
    every SinglePartition exchange aggregate-bounded); DiD is a 4-cell
    conditional rollup with no Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_hourly_envelope", "q_did_estimate"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_hourly_envelope"].build(spark, sf_dir), "simple"
    )
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_did_estimate"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch29_plan_shapes(spark, sf_dir):
    """batch 29 (path surprise / effective sample size): no Python eval,
    no cartesian; the surprise model joins back BROADCAST (transition
    table is |states|^2); ESS is one combinable rollup with no Window,
    no join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_path_surprise", "q_effective_sample_size"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_path_surprise"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_effective_sample_size"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch30_plan_shapes(spark, sf_dir):
    """batch 30 (ship-lag SLA / supplier HHI / brand return rate): no
    Python eval, no cartesian; ship-lag rides the rank-selection
    decomposition (__cell, aggregate-bounded SinglePartition only); the
    brand table's part dimension joins BROADCAST; supplier HHI is two
    combinable rollups plus a deterministic TopK (TakeOrderedAndProject,
    never a global Sort of all parts)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_ship_lag_sla", "q_supplier_hhi", "q_brand_return_rate"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_ship_lag_sla"].build(spark, sf_dir), "simple"
    )
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_brand_return_rate"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_supplier_hhi"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch31_plan_shapes(spark, sf_dir):
    """batch 31 (trade matrix / order-size histogram / arrival
    dispersion): no Python eval, no cartesian; the trade matrix's
    nation/supplier dimensions join BROADCAST (>= 3 broadcast joins);
    the other two are pure combinable rollups with no Window, no join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in (
        "q_trade_matrix",
        "q_order_size_histogram",
        "q_arrival_dispersion",
    ):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_trade_matrix"].build(spark, sf_dir), "simple"
    )
    assert simple.count("BroadcastHashJoin") >= 3, simple[:1500]

    for name in ("q_order_size_histogram", "q_arrival_dispersion"):
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), "simple")
        assert "Window" not in simple and "Join" not in simple, (
            name,
            simple[:900],
        )


def test_r8_batch32_plan_shapes(spark, sf_dir):
    """batch 32 (repurchase cycle / discount-qty corr): no Python eval,
    no cartesian; the cycle's global ranks ride rank_select (__cell,
    aggregate-bounded SinglePartition only — never a one-task sort of
    all gaps); the corr's part dimension joins BROADCAST."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_repurchase_cycle", "q_discount_qty_corr"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_repurchase_cycle"].build(spark, sf_dir), "simple"
    )
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_discount_qty_corr"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]


def test_r8_batch33_plan_shapes(spark, sf_dir):
    """batch 33 (funnel Wilson / max drawdown): no Python eval, no
    cartesian (the edge count frames are 1-row broadcasts); drawdown's
    running max and rollup share ONE event_type exchange."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_funnel_wilson", "q_max_drawdown"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_max_drawdown"].build(spark, sf_dir), "simple"
    )
    assert simple.count("Exchange hashpartitioning") == 1, simple[:900]


def test_r8_batch34_plan_shapes(spark, sf_dir):
    """batch 34 (median shift / source vocab overlap): no Python eval,
    no cartesian (the midpoint anchor broadcasts); median shift rides
    rank_select grouped by (series, half) — __cell present,
    aggregate-bounded SinglePartition only; vocab overlap's size table
    joins broadcast after the distinct collapse."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_median_shift", "q_source_vocab_overlap"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_median_shift"].build(spark, sf_dir), "simple"
    )
    assert "__cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_source_vocab_overlap"].build(spark, sf_dir), "simple"
    )
    assert simple.count("BroadcastHashJoin") >= 2, simple[:1500]


def test_r8_batch35_plan_shapes(spark, sf_dir):
    """batch 35 (fact sanity audit / sentence stats): no Python eval, no
    cartesian; the audit is one fact-keyed join into a 1-row rollup;
    sentence stats is MAP-ONLY — zero exchanges of any kind."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_date_logic_audit", "q_sentence_stats"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_sentence_stats"].build(spark, sf_dir), "simple"
    )
    assert "Exchange" not in simple, simple[:900]


def test_r8_batch36_plan_shapes(spark, sf_dir):
    """batch 36 (peer z-score / activation validation): no Python eval,
    no cartesian (week-1 boundary broadcasts); peer stats join back
    BROADCAST; activation is one user rollup into a 1-row fold with no
    Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_peer_zscore", "q_activation_validation"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_peer_zscore"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_activation_validation"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch37_plan_shapes(spark, sf_dir):
    """batch 37 (velocity burst / price consistency): no Python eval, no
    cartesian; the burst's RANGE frame and per-user max share ONE
    user_id exchange; price consistency ends in a deterministic TopK
    (TakeOrderedAndProject), never a global sort of all parts."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_velocity_burst", "q_price_consistency"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_velocity_burst"].build(spark, sf_dir), "simple"
    )
    assert simple.count("Exchange hashpartitioning") == 1, simple[:900]

    simple = explain_str(
        REGISTRY["q_price_consistency"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch38_plan_shapes(spark, sf_dir):
    """batch 38 (adstock pressure / value-hour heatmap): no Python eval,
    no cartesian (anchor and converter frames broadcast); the heatmap is
    ONE combinable groupBy — single exchange, no Window, no join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_adstock_pressure", "q_value_hour_heatmap"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_value_hour_heatmap"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]
    assert simple.count("Exchange hashpartitioning") == 1, simple[:900]


def test_r8_batch39_plan_shapes(spark, sf_dir):
    """batch 39 (brand share trend / overdue users): no Python eval, no
    cartesian (quarter bounds and anchors broadcast); the share trend
    ends in a deterministic TopK; overdue is one combinable rollup."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_brand_share_trend", "q_overdue_users"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_brand_share_trend"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_overdue_users"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch40_plan_shapes(spark, sf_dir):
    """batch 40 (SAX motifs / cohort quality trend): no Python eval, no
    cartesian; all post-signature / post-triangle computation is
    aggregate-sized, so every Exchange SinglePartition is
    aggregate-bounded on both queries."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_sax_motifs", "q_cohort_quality_trend"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(REGISTRY[name].build(spark, sf_dir), "simple")
        bad = _single_partition_exchanges_feed_aggregates(simple)
        assert not bad, (name, bad)


def test_r8_batch41_plan_shapes(spark, sf_dir):
    """batch 41 (survival by cohort / split balance): no Python eval, no
    cartesian (the global-balance frame is a 1-row broadcast); the
    cohort survival spine windows PARTITION BY cohort — no
    partition-less Window anywhere in its plan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_survival_by_cohort", "q_split_balance_audit"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_survival_by_cohort"].build(spark, sf_dir), "simple"
    )
    bad = _single_partition_exchanges_feed_aggregates(simple)
    assert not bad, bad


def test_r8_batch42_plan_shapes(spark, sf_dir):
    """batch 42 (variance components / Hill tail index): no Python eval,
    no cartesian (x_k is a 1-row broadcast); Hill's top-101 comes from a
    TakeOrderedAndProject (LIMIT-class), never a full global Sort of all
    values; variance components is two combinable rollups with no
    Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_variance_components", "q_hill_tail_index"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_hill_tail_index"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_variance_components"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch43_plan_shapes(spark, sf_dir):
    """batch 43 (geometric mean / newcomer share): no Python eval, no
    cartesian; geometric mean is one combinable rollup (no Window, no
    join); newcomer share's first-seen frame joins back user-keyed."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_geometric_mean", "q_newcomer_share"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_geometric_mean"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch44_plan_shapes(spark, sf_dir):
    """batch 44 (Spearman / Kendall): no Python eval, no fact-table
    cartesian; Spearman's rank spines broadcast back onto the scan
    (BroadcastHashJoin — the fact table never shuffles) and its only
    Window runs over the aggregated value spine; Kendall's cell
    self-join is an inequality-only BroadcastNestedLoopJoin over the
    contingency frame, never a CartesianProduct."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_spearman_corr", "q_kendall_tau"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_spearman_corr"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_kendall_tau"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastNestedLoopJoin" in simple, simple[:1200]


def test_r8_batch45_plan_shapes(spark, sf_dir):
    """batch 45 (Poisson bootstrap / popularity MRR): no Python eval, no
    cartesian (the replica fan-out is a map-side sequence explode, the
    1-row/20-row frames broadcast); bootstrap's explode stays out of any
    join path (Generate feeds a partial-aggregable rollup); MRR's top-20
    candidate list is a TakeOrderedAndProject, never a full global sort
    of the part catalog."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_poisson_bootstrap", "q_popularity_mrr"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_poisson_bootstrap"].build(spark, sf_dir), "simple"
    )
    assert "Generate" in simple, simple[:1200]

    simple = explain_str(
        REGISTRY["q_popularity_mrr"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch46_plan_shapes(spark, sf_dir):
    """batch 46 (clustering coefficient / lagged xcorr): no Python eval,
    no cartesian (the 7-row lag table broadcasts, the LSH edge list
    self-joins on keys); xcorr's lag alignments join spine-vs-spine
    AFTER the single full-data rollup (plan shows the hourly aggregate
    below the join, i.e. at most one full-width Exchange)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_clustering_coeff", "q_xcorr_lagged"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_xcorr_lagged"].build(spark, sf_dir), "simple"
    )
    assert "BroadcastNestedLoopJoin" in simple or "BroadcastHashJoin" in simple, simple[:1200]


def test_r8_batch47_plan_shapes(spark, sf_dir):
    """batch 47 (Cohen's kappa / e-value drift): no Python eval, no
    cartesian; kappa is ONE combinable scan folding to a single row (no
    Window, no Join); the e-process's cumulative walk windows over the
    |days|-per-type spine, i.e. its Window sits above an Aggregate, never
    over the raw event rows."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_cohens_kappa", "q_evalue_drift"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_cohens_kappa"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch48_plan_shapes(spark, sf_dir):
    """batch 48 (conformal interval / CEM ATT): no Python eval, no
    fact-table cartesian; conformal's residual quantile goes through the
    shared histogram rank-selection, so no single-partition global-sort
    Window appears (every Window partitions by at least the cell); CEM
    is two combinable rollups with a 1-row naive broadcast."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_conformal_interval", "q_cem_att"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    # conformal inherits the shared-histogram invariant: every Exchange
    # SinglePartition sits above an aggregate-bounded frame, never a
    # raw-row collapse (the global-sort-window anti-pattern), and the
    # __cell decomposition is actually in the plan
    df = REGISTRY["q_conformal_interval"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "__cell" in simple or "cell#" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_cem_att"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch49_plan_shapes(spark, sf_dir):
    """batch 49 (embedding outliers / Qini uplift): no Python eval, no
    fact cartesian beyond the 1-row edge-array broadcast; embedding
    outliers never shuffles a raw vector (the per-dim rollup explodes
    map-side and folds to |labels|x64, centroids broadcast back); Qini's
    decile edges come from the shared histogram rank-selection — no
    single-task collapse of raw user rows."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_embedding_outliers", "q_uplift_qini"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name

    df = REGISTRY["q_uplift_qini"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "__cell" in simple or "cell#" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_embedding_outliers"].build(spark, sf_dir), "simple"
    )
    assert "CartesianProduct" not in simple, simple[:900]


def test_r8_batch50_plan_shapes(spark, sf_dir):
    """batch 50 (Mann-Whitney / jackknife ratio SE): no Python eval, no
    fact cartesian (1-row stat broadcasts only); Mann-Whitney's rank-sum
    decomposition keeps every Exchange SinglePartition above an
    aggregate-bounded frame (the value spine / cell table), and its
    within-cell window is PARTITIONED by cell; the jackknife is pure
    day-spine algebra — no Window at all."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_mann_whitney", "q_jackknife_ratio_se"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    df = REGISTRY["q_mann_whitney"].build(spark, sf_dir)
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_jackknife_ratio_se"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch51_plan_shapes(spark, sf_dir):
    """batch 51 (PR curve / rolling backtest): no Python eval; PR's
    threshold fan-out is a <=9-row broadcast (never a fact cartesian in
    the CartesianProduct sense) and its decile thresholds come from the
    shared histogram rank-selection (no raw-row single-task collapse);
    the backtest's windows all partition by event_type over the day
    spine."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_pr_curve", "q_rolling_backtest"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    df = REGISTRY["q_pr_curve"].build(spark, sf_dir)
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad

    simple = explain_str(
        REGISTRY["q_rolling_backtest"].build(spark, sf_dir), "simple"
    )
    assert "Exchange SinglePartition" not in simple, simple[:900]


def test_r8_batch52_plan_shapes(spark, sf_dir):
    """batch 52 (Simpson's flag / Theil decomposition): no Python eval,
    no fact cartesian (part broadcasts onto lineitem; the stratum/group
    frames are dimension-bounded with 1-row broadcasts); Theil is one
    combinable rollup plus spine algebra — no Window anywhere in either
    plan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_simpsons_flag", "q_theil_decomposition"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple, name


def test_r8_batch53_plan_shapes(spark, sf_dir):
    """batch 53 (modularity / mediation): no Python eval, no cartesian
    (the 1-row edge-count frame broadcasts); mediation is one combinable
    per-user rollup folding to a single row — no Window, no Join in its
    plan; modularity's edge list joins the doc->source map by key."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_modularity", "q_mediation_effect"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_mediation_effect"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch54_plan_shapes(spark, sf_dir):
    """batch 54 (Kruskal-Wallis / 1-NN LOO): no Python eval, no fact
    cartesian; KW inherits the Mann-Whitney invariant — every Exchange
    SinglePartition sits above an aggregate-bounded frame and the
    within-cell window partitions by cell; the LOO pair join is
    bucket-keyed (equi-join on the LSH bucket, never CartesianProduct)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_kruskal_wallis", "q_knn_loo"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    df = REGISTRY["q_kruskal_wallis"].build(spark, sf_dir)
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad


def test_r8_batch55_plan_shapes(spark, sf_dir):
    """batch 55 (temperature mix / class-balance weights): no Python
    eval, no fact cartesian (the folds are |sources|/|labels|-bounded
    with 1-row normalizer broadcasts); neither plan contains a Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_temperature_mix", "q_class_balance_weights"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple, name


def test_r8_batch57_plan_shapes(spark, sf_dir):
    """batch 57 (Markov order test / segment migration): no Python eval,
    no fact cartesian (margins broadcast onto the <=k^3 trigram frame;
    the midpoint bound is a 1-row broadcast); the order test's only
    Window partitions by user_id; segment migration has NO ranking
    window at all (fixed literal thresholds, not ntile)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_markov_order_test", "q_segment_migration"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_segment_migration"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]


def test_r8_batch58_plan_shapes(spark, sf_dir):
    """batch 58 (Fisher index / ABC classes): no Python eval, no fact
    cartesian (bounds/threshold frames are 1-2-row broadcasts; the index
    self-join is part-keyed); ABC's weighted rank selection keeps every
    Exchange SinglePartition above an aggregate-bounded frame."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_fisher_price_index", "q_abc_classification"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    df = REGISTRY["q_abc_classification"].build(spark, sf_dir)
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad


def test_r8_batch59_plan_shapes(spark, sf_dir):
    """batch 59 (Burrows delta / Lin CCC): no Python eval, no fact
    cartesian (the top-50 token frame and |sources| totals broadcast;
    the z pair-join is token-keyed); CCC's windows all partition by
    event_type over the day spine; delta's TakeOrderedAndProject bounds
    the token list — never a full vocabulary sort."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_burrows_delta", "q_lin_ccc"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_burrows_delta"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]

    simple = explain_str(REGISTRY["q_lin_ccc"].build(spark, sf_dir), "simple")
    assert "Exchange SinglePartition" not in simple, simple[:900]


def test_r8_batch60_plan_shapes(spark, sf_dir):
    """batch 60 (price-volume-mix / EB return rates): no Python eval, no
    fact cartesian (bounds/prior frames are 1-row broadcasts, part
    broadcasts onto lineitem); the bridge's part alignment is a keyed
    full outer join; neither plan contains a Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_price_volume_mix", "q_eb_return_rate"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple, name


def test_r8_batch61_plan_shapes(spark, sf_dir):
    """batch 61 (MAP@20 / IV Wald): no Python eval, no fact cartesian;
    MAP's candidate list is a TakeOrderedAndProject broadcast and its
    precision windows partition by custkey (<=20 rows each); the Wald
    estimator is one combinable per-user rollup folding to a single row
    — no Window, no Join."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_map_at_k", "q_iv_wald"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(REGISTRY["q_map_at_k"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in simple, simple[:1200]

    simple = explain_str(REGISTRY["q_iv_wald"].build(spark, sf_dir), "simple")
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch62_plan_shapes(spark, sf_dir):
    """batch 62 (heavy changers / reuse-gap histogram): no Python eval,
    no fact cartesian (1-row midpoint/total broadcasts); heavy changers
    tops out via TakeOrderedAndProject, never a global sort; the gap
    histogram's only window partitions by user_id."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_heavy_changers", "q_reuse_gap_hist"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_heavy_changers"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]

    df = REGISTRY["q_reuse_gap_hist"].build(spark, sf_dir)
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad


def test_r8_batch63_plan_shapes(spark, sf_dir):
    """batch 63 (partial correlation / Cronbach alpha): both are ONE
    combinable rollup folding to a single row — no Python eval, no
    cartesian, no Window, no Join anywhere in either plan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_partial_corr", "q_cronbach_alpha"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple and "Join" not in simple, name


def test_r8_batch64_plan_shapes(spark, sf_dir):
    """batch 64 (dim variance / dim drift): no Python eval, no
    cartesian; both fold through the 64x posexplode into |dims|-bounded
    frames — the drift top-10 is a TakeOrderedAndProject over 64 rows,
    never a Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_dim_variance", "q_dim_drift"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple, name

    simple = explain_str(REGISTRY["q_dim_drift"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch65_plan_shapes(spark, sf_dir):
    """batch 65 (seasonality strength / token adaptation): no Python
    eval, no cartesian; both are combinable rollups folding to
    type/token-bounded frames — adaptation tops out via
    TakeOrderedAndProject, strength has no Window at all."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_seasonality_strength", "q_token_adaptation"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    simple = explain_str(
        REGISTRY["q_seasonality_strength"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple, simple[:900]

    simple = explain_str(
        REGISTRY["q_token_adaptation"].build(spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch66_plan_shapes(spark, sf_dir):
    """batch 66 (logistic adoption / Youden cut): no Python eval, no
    fact cartesian; adoption's cumulative window runs over the day
    SPINE (above an aggregate — the single-partition walk is
    spine-bounded); Youden inherits the PR-curve shape and picks via a
    9-row TakeOrdered."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_logistic_adoption", "q_youden_cut"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        bad = _single_partition_exchanges_feed_aggregates(plan)
        assert not bad, (name, bad)

    simple = explain_str(REGISTRY["q_youden_cut"].build(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in simple, simple[:1200]


def test_r8_batch67_plan_shapes(spark, sf_dir):
    """batch 67 (Jarque-Bera / runs test): no Python eval, no fact
    cartesian; JB is one combinable rollup (no Window, no Join); the
    runs test's median comes from the shared rank-selection and its lag
    window partitions by event_type over the day spine."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_jarque_bera", "q_runs_test"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        bad = _single_partition_exchanges_feed_aggregates(plan)
        assert not bad, (name, bad)

    simple = explain_str(
        REGISTRY["q_jarque_bera"].build(spark, sf_dir), "simple"
    )
    assert "Window" not in simple and "Join" not in simple, simple[:900]


def test_r8_batch68_plan_shapes(spark, sf_dir):
    """batch 68 (out-of-range-by-server audit / effective dimension):
    no Python eval, no fact cartesian (1-row marginal broadcasts);
    both fold through combinable rollups to bounded frames — no Window
    in either plan."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_oor_by_server", "q_effective_dim"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = explain_str(df)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        simple = explain_str(df, "simple")
        assert "Window" not in simple, name


def test_r8_batch69_plan_shapes(spark, sf_dir):
    """batch 69 (audience turnover / Wasserstein-1D): no Python eval, no
    fact cartesian; turnover's week-shift join is user-keyed; EMD
    inherits the KS invariant — every Exchange SinglePartition sits
    above an aggregate-bounded frame, the within-cell windows partition
    by cell, and the __cell decomposition is present."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    for name in ("q_audience_turnover", "q_wasserstein_1d"):
        plan = explain_str(REGISTRY[name].build(spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    df = REGISTRY["q_wasserstein_1d"].build(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "cell" in simple, simple[:900]
    bad = _single_partition_exchanges_feed_aggregates(explain_str(df))
    assert not bad, bad


def test_r8_batch70_plan_shapes(spark, sf_dir):
    """batch 70 (e-BH rejections): no Python eval, no fact cartesian;
    the ranking window and k* scan run on the aggregate-bounded
    |types|-row frame (every SinglePartition exchange sits above an
    aggregate)."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    df = REGISTRY["q_ebh_rejections"].build(spark, sf_dir)
    plan = explain_str(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    bad = _single_partition_exchanges_feed_aggregates(plan)
    assert not bad, bad


def test_r8_batch71_plan_shapes(spark, sf_dir):
    """batch 71 (NB overdispersion): one combinable daily rollup folding
    to a |types|-row frame — no Python eval, no cartesian, no Window."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    df = REGISTRY["q_nb_overdispersion"].build(spark, sf_dir)
    plan = explain_str(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    simple = explain_str(df, "simple")
    assert "Window" not in simple, simple[:900]


def test_r8_batch72_plan_shapes(spark, sf_dir):
    """batch 72 (engagement half-life): no Python eval, no fact
    cartesian; the first-seen frame joins back user-keyed and the OLS
    runs on the offset spine — every SinglePartition exchange sits
    above an aggregate."""
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    df = REGISTRY["q_engagement_half_life"].build(spark, sf_dir)
    plan = explain_str(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    bad = _single_partition_exchanges_feed_aggregates(plan)
    assert not bad, bad


def test_histogram_shared_idiom_helpers(spark):
    """r8 idiom extractions (r7 VERDICT #8): edge_bin == the hand-rolled
    1-based broadcast-edges fold it replaced in three consumers,
    bin_spine is a dense 1..n long spine, decile_ranks are the nine
    ceil(k*n/10) order statistics."""
    from opc2mongodb_spark.operators.histogram import (
        bin_spine,
        decile_ranks,
        edge_bin,
    )

    df = spark.createDataFrame(
        [(v,) for v in (0.5, 1.0, 1.5, 2.0, 9.0)], "v double"
    ).withColumn("es", F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)))
    got = [
        r.bin
        for r in df.select("v", edge_bin(F.col("v"), F.col("es")).alias("bin"))
        .orderBy("v")
        .collect()
    ]
    # strictly-greater fold: v==edge stays in the lower bin
    assert got == [1, 1, 2, 2, 4]

    spine = bin_spine(spark, 4).collect()
    assert [r.bin for r in spine] == [1, 2, 3, 4]
    assert bin_spine(spark).schema["bin"].dataType.typeName() == "long"

    n = F.lit(40)
    ranks = [e(n) for e in decile_ranks()]
    vals = (
        spark.range(1)
        .select(F.array(*ranks).cast("array<long>").alias("a"))
        .first()[0]
    )
    assert vals == [4, 8, 12, 16, 20, 24, 28, 32, 36]


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(st.integers(-5, 5), min_size=1, max_size=8),
    vals=st.lists(st.integers(-6, 6), min_size=1, max_size=12),
)
def test_edge_bin_matches_bisect(spark, edges, vals):
    """edge_bin == 1 + bisect_left(sorted_edges, v): the strictly-greater
    fold keeps edge-equal values in the LOWER bin — exact under duplicate
    edges and values on/off every boundary."""
    import bisect

    from opc2mongodb_spark.operators.histogram import edge_bin

    es = sorted(float(e) for e in edges)
    df = spark.createDataFrame(
        [(float(v),) for v in vals], "v double"
    ).withColumn("es", F.array(*[F.lit(e) for e in es]))
    got = [
        r.bin
        for r in df.select(
            edge_bin(F.col("v"), F.col("es")).alias("bin"), "v"
        )
        .orderBy("v")
        .collect()
    ]
    expect = [1 + bisect.bisect_left(es, float(v)) for v in sorted(vals)]
    assert got == expect


def test_raw_to_opc_values_evaluates_coercion_case_once(spark):
    """The unsupported-type drop filters on the declared type name, not on
    the coerced struct: the optimized plan holds the coercion CASE once (a
    filter on the struct is pushed below the projection and evaluates the
    whole CASE twice per row) and drops the same rows, NULL types
    included."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import RAW_SCHEMA

    raw = spark.createDataFrame(
        [
            ("s", "a", "Double", "1.5", None, None, 192),
            ("s", "b", "weird", "x", None, None, 0),
            ("s", "c", None, "1", None, None, 0),
            ("s", "d", " BOOLEAN ", "true", None, None, 192),
        ],
        RAW_SCHEMA,
    )
    out = raw_to_opc_values(raw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("CASE WHEN lower(trim(dataType") == 1, plan
    got = sorted((r["tag"], r["doubleValue"]) for r in out.collect())
    assert got == [("a", 1.5), ("d", 1.0)]
