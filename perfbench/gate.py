"""The corpus dedup gate's layer measurement: ``CorpusIngestGate`` fed a
seed-generated document set in fixed-size micro-batches, drained to
completion, then a standalone probe against the final index.

The gate is measured as a layer of ``analytics_mix``'s traced run rather
than as a workload of its own (see README.md, "Dropped workload")."""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import core

BATCHES = 4
DOCS_PER_BATCH = 300
# crossed at least once per drain: batch 3 finds three committed batch dirs
COMPACT_AFTER = 2


def make_docs(seed: int, n: int) -> list[tuple[int, str]]:
    """``(doc_id, text)`` pairs: about one in five is an exact copy of an
    earlier document and one in ten a near-copy (one word replaced)."""
    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(4_000)]
    docs: list[tuple[int, str]] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.2:
            text = docs[rng.randrange(i)][1]
        elif i >= 10 and r < 0.3:
            words = docs[rng.randrange(i)][1].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(25, 40)))
        docs.append((i, text))
    return docs


def write_docs(spark, docs: list[tuple[int, str]], path: str) -> None:
    """One parquet dataset partitioned by micro-batch number."""
    rows = [(d, t, d // DOCS_PER_BATCH) for d, t in docs]
    spark.createDataFrame(rows, "doc_id long, text string, mb int") \
        .repartition(1).write.mode("overwrite").partitionBy("mb") \
        .parquet(path)


def drain(spark, docs_path: str, corpus_dir: str,
          tracer: core.Tracer) -> dict:
    """Feed every micro-batch to a fresh gate, in order."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.streaming.dedup_gate import CorpusIngestGate

    shutil.rmtree(corpus_dir, ignore_errors=True)
    gate = CorpusIngestGate(corpus_dir, compact_after=COMPACT_AFTER)
    compact = gate.compact_index
    compact_s: list[float] = []

    def timed_compact(*args, **kwargs):
        t = time.perf_counter()
        with tracer.span("gate.compact"):
            out = compact(*args, **kwargs)
        compact_s.append(time.perf_counter() - t)
        return out

    gate.compact_index = timed_compact
    docs = spark.read.parquet(docs_path)
    process_s = []
    t0 = time.perf_counter()
    for mb in range(BATCHES):
        batch = docs.filter(F.col("mb") == mb).drop("mb")
        t = time.perf_counter()
        with tracer.span("gate.batch"):
            gate.foreach_batch(batch, mb)
        process_s.append(time.perf_counter() - t)
    wall = time.perf_counter() - t0
    return {"gate": gate, "wall_s": wall, "process_s": process_s,
            "compact_s": sum(compact_s)}


def check(spark, gate, admitted_before: int | None) -> tuple[int, list[str]]:
    """Admitted count (must repeat for the seed) and the rule that no two
    admitted documents share a fingerprint."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.functions.text import fingerprint

    corpus = gate.read_corpus(spark)
    if corpus is None:
        return 0, ["gate admitted nothing"]
    row = corpus.select(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(fingerprint(F.col("text"))).alias("fps"),
    ).first()
    problems = []
    if row["fps"] != row["n"]:
        problems.append(
            f"gate admitted {row['n']} documents with {row['fps']} "
            "distinct fingerprints")
    if admitted_before is not None and row["n"] != admitted_before:
        problems.append(
            f"gate admitted {row['n']} documents, {admitted_before} on the "
            "previous drain of the same input")
    return row["n"], problems


def probe_s(spark, gate, seed: int, tracer: core.Tracer) -> float:
    """Standalone ``incremental_keep_list`` of one batch of novel documents
    against the drained gate's persisted index."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.dedup import incremental_keep_list

    novel = make_docs(seed + 1, DOCS_PER_BATCH)
    frame = spark.createDataFrame(
        [(10**9 + d, t) for d, t in novel], "doc_id long, text string")
    fps, sigs, bloom = gate.read_index(spark)
    t = time.perf_counter()
    with tracer.span("gate.probe"):
        incremental_keep_list(
            None, frame, "doc_id", "text",
            corpus_fps=fps, corpus_sigs=sigs, corpus_bloom=bloom,
        ).filter(F.col("verdict") == "keep").count()
    return time.perf_counter() - t


def layer_metrics(spark, workdir: str, seed: int,
                  tracer: core.Tracer) -> tuple[dict, int, list[str]]:
    """Two drains of the same documents (the first warms the gate's plans),
    the checks, and the gate's per-layer numbers from the second."""
    docs_path = os.path.join(workdir, "gate_docs")
    write_docs(spark, make_docs(seed, BATCHES * DOCS_PER_BATCH), docs_path)
    first = drain(spark, docs_path, os.path.join(workdir, "corpus1"),
                  core.Tracer(False, tracer.run_id))
    admitted1, problems = check(spark, first["gate"], None)
    with tracer.span("gate.drain", phase=True):
        second = drain(spark, docs_path, os.path.join(workdir, "corpus2"),
                       tracer)
    admitted, more = check(spark, second["gate"], admitted1)
    problems += more
    gate = second["gate"]
    index_root = os.path.join(gate.corpus_dir, "_index")
    index_dirs = sum(
        entry.startswith("ingest_batch=")
        for t in gate.INDEX_TABLES
        if os.path.isdir(os.path.join(index_root, t))
        for entry in os.listdir(os.path.join(index_root, t)))
    docs_in = BATCHES * DOCS_PER_BATCH
    metrics = {
        "gate.docs_in": docs_in,
        "gate.admitted": admitted,
        "gate.admit_ratio": admitted / docs_in,
        "gate.process_s_p50": core.median(second["process_s"]),
        "gate.probe_s": probe_s(spark, gate, seed, tracer),
        "gate.compact_s": second["compact_s"],
        "gate.index_bytes": core.dir_bytes(index_root),
        "gate.index_dirs": index_dirs,
        "gate.docs_per_s": docs_in / second["wall_s"],
    }
    return metrics, 2 * BATCHES + 2, problems
