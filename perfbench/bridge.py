"""The bridge workloads: the full OPC topology — ``opcsim`` source →
``raw_to_opc_values`` → ``streaming_last_value`` started under
``state_partitioning`` → ``upsert_query`` into a parquet
``CurrentValuesStore`` — driven closed-loop (``bridge_backfill``) or on a
wall-clock schedule (``bridge_live``)."""

from __future__ import annotations

import json
import os
import shutil
import time

from opc2mongodb_spark.sources.config import parse_config_file
from opc2mongodb_spark.sources.opc import (
    OpcSimDataSource,
    OpcSimStreamReader,
    _ServerPartition,
    _sweep_rows,
)

from perfbench import core


class PacedOpcSimStreamReader(OpcSimStreamReader):
    """``OpcSimStreamReader`` whose latest offset is the number of sweeps
    due by now on a fixed schedule, so sweeps arrive at a set rate whether
    or not the bridge keeps up (an open loop). Rendering stays in the
    parent reader."""

    def __init__(self, topo, max_sweeps: int, t0: float, period_s: float):
        super().__init__(topo, 1, max_sweeps)
        self.t0 = t0
        self.period_s = period_s

    def latestOffset(self):
        due = core.sweeps_due(time.time(), self.t0, self.period_s,
                              self.max_sweeps)
        self._latest = max(self._latest, due)
        return {"sweep": self._latest}


class PacedOpcSimDataSource(OpcSimDataSource):
    """``opcsim`` with the paced stream reader. Extra options: ``t0`` (unix
    time at which sweep 0 is due) and ``period_s``."""

    @classmethod
    def name(cls) -> str:
        return "opcsim_paced"

    def streamReader(self, schema):
        return PacedOpcSimStreamReader(
            self._topo(),
            int(self.options.get("max_sweeps", 16)),
            float(self.options["t0"]),
            float(self.options["period_s"]),
        )


def expected_final_raw(topo, n_sweeps: int) -> list[tuple]:
    """Raw rows of the last sweep of every server — what the store must
    hold after ``n_sweeps`` sweeps, before normalization."""
    last = n_sweeps - 1
    rows: list[tuple] = []
    for i in range(len(topo.servers)):
        rows.extend(_sweep_rows(topo, _ServerPartition(i, last, last + 1)))
    return rows


class ClockedStore:
    """``foreachBatch`` target that hands each batch to the store's own
    ``foreach_batch`` and records the wall time at which it returned. The
    untraced measurements use it, so they time the program's path and
    nothing else."""

    def __init__(self, store):
        self.store = store
        self.merge_returns: dict[int, float] = {}

    def foreach_batch(self, batch, batch_id: int) -> None:
        self.store.foreach_batch(batch, batch_id)
        self.merge_returns[batch_id] = time.time()


class TimedStore(ClockedStore):
    """The traced run's ``foreachBatch`` target. Each batch is persisted and
    counted per server first (the upstream span: source render, normalize
    and the state operator all run here), then handed to the store (the
    sink span). The extra job makes traced batches slower than untraced
    ones; it is part of the tracing overhead."""

    def __init__(self, store, tracer: core.Tracer):
        super().__init__(store)
        self.tracer = tracer
        self.batches: list[dict] = []

    def foreach_batch(self, batch, batch_id: int) -> None:
        tr = self.tracer
        with tr.span("bridge.batch"):
            t_a = time.perf_counter()
            with tr.span("state.upstream"):
                batch = batch.persist()
                per_server = {r[0]: r[1] for r in
                              batch.groupBy("server").count().collect()}
            t_b = time.perf_counter()
            try:
                with tr.span("sink.merge"):
                    self.store.foreach_batch(batch, batch_id)
            finally:
                batch.unpersist()
            t_c = time.perf_counter()
        self.merge_returns[batch_id] = time.time()
        self.batches.append({"batch": batch_id,
                             "rows": sum(per_server.values()),
                             "servers": sorted(per_server),
                             "upstream_s": t_b - t_a, "merge_s": t_c - t_b})


class Bridge:
    """One topology (conf file + stream options) that can be drained
    repeatedly into fresh stores."""

    def __init__(self, spark, workdir: str, n_servers: int, tags: int,
                 seed: int):
        from opc2mongodb_spark.sources.opc import register

        self.spark = spark
        self.workdir = workdir
        self.conf_path = os.path.join(workdir, "bridge.conf")
        with open(self.conf_path, "w", encoding="utf-8") as f:
            f.write(core.synth_conf(n_servers, tags, seed))
        self.topo = parse_config_file(self.conf_path)
        self.n_keys = n_servers * tags
        register(spark)
        spark.dataSource.register(PacedOpcSimDataSource)
        self._runs = 0

    def _stream(self, **options):
        fmt = "opcsim_paced" if "t0" in options else "opcsim"
        reader = self.spark.readStream.format(fmt).option(
            "config", self.conf_path)
        for k, v in options.items():
            reader = reader.option(k, str(v))
        return reader.load()

    def run(self, tracer: core.Tracer, max_sweeps: int, **options) -> dict:
        """Start the topology over ``max_sweeps`` sweeps into a fresh store,
        wait until every sweep is committed, stop, and return the drain's
        wall time, progress and the ``foreachBatch`` target's records
        (per-batch detail only when ``tracer`` is on)."""
        from opc2mongodb_spark.opcmodel import raw_to_opc_values
        from opc2mongodb_spark.streaming.pipeline import (
            state_partitioning,
            streaming_last_value,
        )
        from opc2mongodb_spark.streaming.sinks import (
            CurrentValuesStore,
            upsert_query,
        )

        self._runs += 1
        root = os.path.join(self.workdir, f"drain{self._runs}")
        shutil.rmtree(root, ignore_errors=True)
        store = CurrentValuesStore(os.path.join(root, "store"),
                                   backend="parquet")
        sink = (TimedStore(store, tracer) if tracer.enabled
                else ClockedStore(store))
        deduped = streaming_last_value(
            raw_to_opc_values(self._stream(max_sweeps=max_sweeps, **options)))
        t0 = time.perf_counter()
        with state_partitioning(self.spark, self.n_keys) as n_parts:
            query = upsert_query(deduped, sink,
                                 os.path.join(root, "ckpt")).start()
        try:
            wait_committed(query, max_sweeps)
            wall = time.perf_counter() - t0
        finally:
            query.stop()
        return {
            "wall_s": wall,
            "progress": [json.loads(p.json) for p in query.recentProgress],
            "sink": sink,
            "merge_returns": sink.merge_returns,
            "store": store,
            "store_dir": os.path.join(root, "store"),
            "state_partitions": n_parts,
        }

    def check_store(self, store, n_sweeps: int) -> list[str]:
        """The final store must equal the simulator's last sweep, normalized
        by the same ``raw_to_opc_values``: exactly servers x tags rows."""
        from collections import Counter

        from opc2mongodb_spark.opcmodel import raw_to_opc_values
        from opc2mongodb_spark.sources.opc import RAW_SCHEMA

        expected = raw_to_opc_values(self.spark.createDataFrame(
            expected_final_raw(self.topo, n_sweeps), RAW_SCHEMA))
        got = store.read(self.spark)
        if got is None:
            return ["store is empty"]
        want = Counter(map(tuple, expected.collect()))
        have = Counter(map(tuple, got.select(*expected.columns).collect()))
        problems = []
        n_have = sum(have.values())
        if n_have != self.n_keys:
            problems.append(f"store holds {n_have} rows, want {self.n_keys}")
        if have != want:
            problems.append(
                f"store differs from the last sweep: "
                f"{sum((want - have).values())} missing, "
                f"{sum((have - want).values())} unexpected rows")
        return problems


def wait_committed(query, max_sweeps: int, timeout_s: float = 150.0) -> None:
    """Block until the query has committed a batch ending at ``max_sweeps``
    and no trigger is running, so stopping it never interrupts a batch."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        last = query.lastProgress
        done = False
        if last is not None:
            src = last["sources"][0]
            done = core.sweep_of(src.get("endOffset")) >= max_sweeps
        if done:
            query.processAllAvailable()
            st = query.status
            if not st["isTriggerActive"] and not st["isDataAvailable"]:
                return
        time.sleep(0.02)
    raise TimeoutError(f"query did not commit {max_sweeps} sweeps in time")


def progress_stats(progress: list[dict]) -> dict:
    """Per-layer counts and trigger phase times from the query's progress,
    over the batches that carried rows."""
    data = [p for p in progress if p["numInputRows"] > 0]
    if not data:
        return {}

    def p50(key, entries):
        vals = [float(e[key]) for e in entries if key in e]
        return core.median(vals) if vals else 0.0

    dur = [p["durationMs"] for p in data]
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    last_ops = ops[-1] if ops else {}
    sweeps = [core.sweep_of(p["sources"][0].get("endOffset"))
              - core.sweep_of(p["sources"][0].get("startOffset"))
              for p in data]
    return {
        "sources.rows": sum(p["numInputRows"] for p in data),
        "sources.latest_offset_ms_p50": p50("latestOffset", dur),
        "sources.backlog_sweeps_max": max(sweeps),
        "state.rows_total": last_ops.get("numRowsTotal", 0),
        "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "state.memory_bytes": last_ops.get("memoryUsedBytes", 0),
        "state.commit_ms_p50": p50("commitTimeMs", ops),
        "state.update_ms_p50": p50("allUpdatesTimeMs", ops),
        "trigger.execution_ms_p50": p50("triggerExecution", dur),
        "trigger.add_batch_ms_p50": p50("addBatch", dur),
        "trigger.planning_ms_p50": p50("queryPlanning", dur),
        "trigger.wal_commit_ms_p50": p50("walCommit", dur),
        "trigger.commit_offsets_ms_p50": p50("commitOffsets", dur),
        "trigger.batches": len(progress),
    }


def sink_stats(topo, drain: dict) -> dict:
    """Sink per-layer numbers of one drain. A merge rewrites every key of
    each server partition its batch touches, so keys written per batch is
    the touched servers' tag count."""
    tags = {s.name: len(s.entries) for s in topo.servers}
    data = [b for b in drain["sink"].batches if b["rows"]]
    rows_in = sum(b["rows"] for b in data)
    keys = sum(tags[srv] for b in data for srv in b["servers"])
    files = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(drain["store_dir"]) for f in fs)
    return {
        "upstream.s_p50": core.median([b["upstream_s"] for b in data]),
        "sink.merge_s_p50": core.median([b["merge_s"] for b in data]),
        "sink.rows_in": rows_in,
        "sink.keys_written": keys,
        "sink.useful_ratio": keys / rows_in,
        "sink.servers_touched": core.median([len(b["servers"]) for b in data]),
        "sink.files_per_batch": files,
        "sink.store_bytes": core.dir_bytes(drain["store_dir"]),
        "state.partitions": drain["state_partitions"],
    }


def source_layer(spark, bridge: Bridge, sweeps: int,
                 tracer: core.Tracer) -> dict:
    """Standalone source render and normalize over one batch's shape:
    ``OpcSimBatchReader.read`` of one server partition, and a ``noop``
    write of ``raw_to_opc_values`` over the batch's static raw frame."""
    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.sources.opc import OpcSimBatchReader

    reader = OpcSimBatchReader(bridge.topo, sweeps)
    t = time.perf_counter()
    with tracer.span("sources.render"):
        rendered = sum(b.num_rows for b in
                       reader.read(_ServerPartition(0, 0, sweeps)))
    render_s = time.perf_counter() - t
    raw = (spark.read.format("opcsim").option("config", bridge.conf_path)
           .option("sweeps", str(sweeps)).load().persist())
    try:
        rows_in = raw.count()
        norm = raw_to_opc_values(raw)
        t = time.perf_counter()
        with tracer.span("normalize.noop"):
            norm.write.format("noop").mode("overwrite").save()
        norm_s = time.perf_counter() - t
        rows_out = norm.count()
    finally:
        raw.unpersist()
    return {
        "sources.render_s_per_krow": render_s / rendered * 1000,
        "normalize.rows_in": rows_in,
        "normalize.rows_out": rows_out,
        "normalize.s_per_krow": norm_s / rows_in * 1000,
    }


class BridgeWorkload:
    """``bridge``: the bridge in its two regimes, one after the other in
    one process, over 3 servers x 1,000 tags.

    Backfill (closed loop): catch-up after an outage or restart. A fixed
    backlog of ``BACKFILL_BATCHES`` micro-batches of
    ``BACKFILL_SWEEPS_PER_BATCH`` sweeps (120k rows a batch) is drained to
    completion. Per-row costs dominate: source render, coercion, state
    updates, the merge's aggregation.

    Live (open loop): what the plant operator sees. One sweep (3k rows) is
    released every ``PERIOD_S`` seconds on the wall clock whether or not
    the bridge has kept up, for the run's seconds (at least
    ``MIN_LIVE_SWEEPS`` sweeps, after one start-up sweep); each batch's
    freshness runs from when its oldest sweep was due until its merge
    returned. Fixed per-batch costs dominate: trigger planning, state
    commits, the sink's collect, staged write and rename.

    The warm-up drain and the backfill phase warm the process for the live
    phase, so the live figures are those of a bridge that has been
    running."""

    name = "bridge"
    SERVERS, TAGS = 3, 1_000
    BACKFILL_SWEEPS_PER_BATCH = 40
    BACKFILL_BATCHES = 4
    WARMUP_BATCHES = 2
    # twice a warm live batch (data batch plus the no-data batch the
    # watermark triggers): headroom for a host that runs slower for a while
    PERIOD_S = 3.0
    # delay from query start to the first due sweep
    LEAD_S = 0.5
    MIN_LIVE_SWEEPS = 5

    def prepare(self, spark, workdir: str, seed: int) -> None:
        self.bridge = Bridge(spark, workdir, self.SERVERS, self.TAGS, seed)

    def warmup(self, tracer) -> tuple[int, list[str]]:
        """A shorter backfill drain, untimed: pays the process's one-off
        costs (Python source workers, code generation, the first streaming
        query, the JIT compiling the per-row paths) before anything is
        timed."""
        drain, problems = self._backfill(tracer, self.WARMUP_BATCHES)
        return len(drain["merge_returns"]) + 1, problems

    def _backfill(self, tracer, batches: int) -> tuple[dict, list[str]]:
        n = self.BACKFILL_SWEEPS_PER_BATCH * batches
        with tracer.span("bridge.backfill", phase=True):
            drain = self.bridge.run(
                tracer, n, sweeps_per_batch=self.BACKFILL_SWEEPS_PER_BATCH)
        with tracer.span("check.store"):
            problems = self.bridge.check_store(drain["store"], n)
        return drain, problems

    def _live(self, tracer, n: int) -> tuple[dict, list[str]]:
        t0 = time.time() + self.LEAD_S
        with tracer.span("bridge.live", phase=True):
            drain = self.bridge.run(tracer, n, t0=t0, period_s=self.PERIOD_S)
        drain["t0"] = t0
        with tracer.span("check.store"):
            problems = self.bridge.check_store(drain["store"], n)
        return drain, problems

    def measure(self, seconds: float, tracer) -> dict:
        drain, problems = self._backfill(tracer, self.BACKFILL_BATCHES)
        # one sweep more than measured: the new query's first batch carries
        # its start-up (plan and state-store initialisation), so it is
        # reported on its own and left out of the freshness figures
        n_live = max(self.MIN_LIVE_SWEEPS, round(seconds / self.PERIOD_S))
        live, more = self._live(tracer, n_live + 1)
        problems += more

        fresh = core.batch_freshness(live["progress"], live["merge_returns"],
                                     live["t0"], self.PERIOD_S)
        first = [f["freshness_s"] for f in fresh if f["first_sweep"] == 0]
        fresh = [f for f in fresh if f["first_sweep"] > 0]
        values = [f["freshness_s"] for f in fresh]
        rows = sum(p["numInputRows"] for p in drain["progress"])
        tail = core.tail(values)
        out = {
            "e2e": {"throughput_per_s": rows / drain["wall_s"],
                    "latency_p50_s": core.median(values)},
            # printed, not declared: a run of BENCHMARK.json's seconds
            # measures too few live batches for a tail
            "notes": [
                f"freshness_tail_s {tail[1]:.4f} s (p{tail[0]:.1f}, "
                f"{tail[2]} of {len(values)} batches beyond)" if tail else
                f"freshness_tail_s n/a ({len(values)} live batches; a tail "
                f"needs more than {core.TAIL_MIN_BEYOND})"],
            "attempted": (len(drain["merge_returns"])
                          + len(live["merge_returns"]) + 2),
            "problems": problems,
            "primary_s": drain["wall_s"],
        }
        if tracer.enabled:
            topo = self.bridge.topo
            out["layers"] = {
                **{f"backfill.{k}": v for k, v in
                   {**progress_stats(drain["progress"]),
                    **sink_stats(topo, drain)}.items()},
                **{f"live.{k}": v for k, v in
                   {**progress_stats(live["progress"]),
                    **sink_stats(topo, live)}.items()},
                "live.freshness.first_s": first[0] if first else 0.0,
                "live.freshness.batches": len(values),
                "live.freshness.sweeps_per_batch_max": max(
                    f["sweeps"] for f in fresh),
            }
        return out

    def primary_s(self) -> float:
        """One more untraced backfill drain's wall time, for the tracing
        overhead."""
        drain, _ = self._backfill(core.Tracer(False, ""),
                                  self.BACKFILL_BATCHES)
        return drain["wall_s"]

    def layer_probes(self, spark, tracer) -> tuple[dict, int, list[str]]:
        """Standalone source render and normalize at both batch shapes."""
        backfill = source_layer(spark, self.bridge,
                                self.BACKFILL_SWEEPS_PER_BATCH, tracer)
        live = source_layer(spark, self.bridge, 1, tracer)
        return {**{f"backfill.{k}": v for k, v in backfill.items()},
                **{f"live.{k}": v for k, v in live.items()}}, 0, []
