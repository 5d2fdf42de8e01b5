"""The ``analytics_mix`` workload: seed-generated catalog tables and a pass
that builds and runs a fixed set of registry queries with ``noop`` writes.

The tables follow the catalog schemas (``sources.tables.TABLE_NAMES``) and
the value domains the queries filter on (hysteresis thresholds at 100 and
400, TPC-H ship dates around 1998-09-02). They are sized so that a warm
pass and one oracle comparison of every query fit a single run: events
span one day, so the hourly grids (``q_resample_1h``,
``q_time_weighted_avg``) stay small, and documents draw from a wide
vocabulary with a planted share of near-copies, so ``q_dedup_minhash``
finds the planted pairs rather than every pair."""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import core

MIX = (
    "q_last_value_per_key", "q_coerce_numeric", "q_window_tumbling",
    "q_resample_1h", "q_time_weighted_avg", "q_ohlc_hourly", "q_join_asof",
    "q_hysteresis_alarms", "q_rolling_zscore", "q_tpch_q1", "q_join_star",
    "q_dedup_minhash",
)

EVENTS = 20_000
USERS = 120
ORDERS = 15_000
LINES_PER_ORDER = 4
CUSTOMERS = 1_500
SUPPLIERS = 100
PARTS = 2_000
DOCUMENTS = 1_000
VOCAB = 3_000
EMBEDDINGS = 200
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
# 2024-01-01 and 1995-01-02 as microseconds since the unix epoch
_EVENTS_T0 = 1_704_067_200_000_000
_SHIP_T0 = 789_004_800_000_000


def _ts(us) -> pa.Array:
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every catalog table, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, CUSTOMERS), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            CUSTOMERS),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, SUPPLIERS), 2),
    })
    price = np.round(900 + np.arange(PARTS) % 1000 * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(PARTS, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "SMALL",
                              "STANDARD"], PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": price,
    })
    day = _US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 400000, ORDERS), 2),
        "o_orderdate": _ts(_SHIP_T0 + rng.integers(0, 2500, ORDERS) * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ORDERS),
    })
    n_li = ORDERS * LINES_PER_ORDER
    partkey = rng.integers(0, PARTS, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(ORDERS, dtype=np.int64),
                                LINES_PER_ORDER),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, SUPPLIERS, n_li),
        "l_linenumber": pa.array(
            np.tile(np.arange(1, LINES_PER_ORDER + 1), ORDERS), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_SHIP_T0 + rng.integers(0, 2500, n_li) * day),
    })
    ts = np.sort(_EVENTS_T0 + rng.integers(0, day, EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, USERS, EVENTS),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], EVENTS),
        "value": np.round(rng.gamma(2.0, 60.0, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })
    t["documents"] = _documents(seed)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(
            list(rng.standard_normal((EMBEDDINGS, EMBED_DIM),
                                     dtype=np.float32)),
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, EMBEDDINGS), pa.int32()),
    })
    return t


def _documents(seed: int) -> pa.Table:
    """Documents of 20-60 words over a wide vocabulary; one in ten is an
    earlier document with a single word replaced (a near-duplicate)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(VOCAB)]
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i >= 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(20, 60))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(["de", "en", "en", "es", "fr", "zh"])
                 for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))


def run_pass(spark, data_dir: str, order: list[str], tracer: core.Tracer,
             stats: dict | None = None) -> float:
    """Build and run every query of ``order`` once with a ``noop`` write;
    returns the pass's wall time. With ``stats``, records each query's
    build and execute time, task count and shuffle bytes under its name
    (a job group per query attributes the jobs)."""
    from opc2mongodb_spark.queries import REGISTRY

    sc = spark.sparkContext
    t_pass = time.perf_counter()
    for name in order:
        if stats is not None:
            sc.setJobGroup(f"perfbench.{name}", name)
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}.build"):
            df = REGISTRY[name].build(spark, data_dir)
        t1 = time.perf_counter()
        with tracer.span(f"query.{name}.execute"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if stats is not None:
            tasks, shuffle = job_group_work(spark, f"perfbench.{name}")
            stats[name] = {"build_s": t1 - t0, "s": t2 - t0,
                           "tasks": tasks, "shuffle_bytes": shuffle}
    if stats is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t_pass


def job_group_work(spark, group: str) -> tuple[int, int]:
    """(tasks, shuffle bytes written) of the jobs in ``group``, from the
    status tracker and the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = shuffle = 0
    for sid in stage_ids:
        stage = tracker.getStageInfo(sid)
        if stage is not None:
            tasks += stage.numCompletedTasks
        for data in _stage_attempts(store, sid):
            shuffle += data.shuffleWriteBytes()
    return tasks, shuffle


def _stage_attempts(store, stage_id: int) -> list:
    """Every attempt the status store kept for ``stage_id`` (none for a
    stage it never saw, such as one skipped because its output was
    reused)."""
    from py4j.protocol import Py4JJavaError

    try:
        seq = store.stageData(stage_id, False, None, False, None)
    except Py4JJavaError:
        return []
    return [seq.apply(i) for i in range(seq.size())]


def check_queries(spark, data_dir: str) -> list[str]:
    """Every mix query against its DuckDB twin (``oracle.compare_query``)."""
    from opc2mongodb_spark.oracle import compare_query

    problems: list[str] = []
    for name in MIX:
        problems.extend(compare_query(spark, data_dir, name))
    return problems


class Mix:
    """``analytics_mix``: batch reads beside the bridge's writes. Each pass
    runs every ``MIX`` query once in a seed-shuffled order.

    The warm-up is the correctness check: every query collected and
    compared with its DuckDB twin. A process's pass time keeps falling over
    its first passes while the JIT compiles the engine's paths, so the
    first timed pass is the slowest; the median of three discounts it."""

    name = "analytics_mix"
    # the run's seconds buy one timed pass per PASS_S (at least three), so
    # a run's work is fixed by its seconds
    PASS_S = 5.0

    def prepare(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.data_dir = os.path.join(workdir, "data")
        write_tables(make_tables(seed), self.data_dir)
        self.rng = random.Random(seed)

    def _order(self) -> list[str]:
        order = list(MIX)
        self.rng.shuffle(order)
        return order

    def warmup(self, tracer) -> tuple[int, list[str]]:
        return len(MIX), check_queries(self.spark, self.data_dir)

    def measure(self, seconds: float, tracer) -> dict:
        walls, stats = [], {}
        for _ in range(max(3, int(seconds // self.PASS_S))):
            with tracer.span("query.pass", phase=True):
                walls.append(run_pass(self.spark, self.data_dir,
                                      self._order(), tracer,
                                      stats if tracer.enabled else None))
        pass_s = core.median(walls)
        layers = {"analytics.passes": len(walls)}
        for name, st in stats.items():
            for key, value in st.items():
                layers[f"query.{name}.{key}"] = value
        return {
            "e2e": {"throughput_per_s": len(MIX) / pass_s,
                    "latency_p50_s": pass_s},
            "notes": ["passes_s " + " ".join(f"{w:.3f}" for w in walls)],
            "layers": layers,
            "attempted": len(walls) * len(MIX),
            "problems": [],
            "primary_s": pass_s,
        }

    def primary_s(self) -> float:
        """One more untraced pass's wall time, for the tracing overhead."""
        return run_pass(self.spark, self.data_dir, self._order(),
                        core.Tracer(False, ""))

    def layer_probes(self, spark, tracer) -> tuple[dict, int, list[str]]:
        from perfbench import gate

        return gate.layer_metrics(spark, self.workdir, self.seed, tracer)
