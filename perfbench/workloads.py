"""The benchmark's workloads. Each is one closed-loop client on
Spark ``local[nproc]`` and returns its end-to-end metrics, its
per-layer metrics (filled only when traced), the number of operations
attempted and failed, and human-readable detail.

Every workload reports the same end-to-end metrics, each meaning the
workload's own version of the quantity:

  setup_s       wall time: JVM start and warm-up job (once per process),
                plus, in the serving workload, the medians of three
                repetitions of corpus landing and of reader open
  build_cpu_s   CPU seconds of the run's process tree (driver, JVM,
                Spark's Python workers) for the work before the steady
                state: the pipeline's cold pass (trains and writes every
                model), or corpus -> saved stores
  pass_cpu_s    median CPU seconds of one pass of the workload's
                repeated unit (a warm pipeline pass, an ingest cycle)
  query_cpu_ms  CPU milliseconds of one call of each kind, summed over
                the kinds: per pipeline entry the median over warm
                passes (process tree), per store family the median over
                point searches (driver process, no Spark job running).
                A median per kind, so that each term follows its own
                typical cost rather than the boundary between two
                kinds' pooled samples

CPU time, not wall time, because wall times on a shared 4-core host
move by 30-60% between runs minutes apart while CPU time moves far less;
the wall times of every phase are printed on the ``#`` lines.

Recall is an output check with a floor, not a metric: a bound on how
much it may worsen would let a 20% recall loss through.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
import time
from statistics import median

import numpy as np

from harness import event_log_metrics, tail, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
# Byte copies of the project's sf0.1 fixture tables the two pipeline
# entries read (FIXTURES.md B1: 5,000 documents, 2,000 64-d embeddings),
# kept here so that a run reads nothing outside its checkout.
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# Pipeline entries, in bench.HEADLINE order. text_repetition_filter is
# the curation side (a count() would skip most of its work);
# kmeans_train_centroids trains its model and writes it to the model dir
# on the cold pass and reads it back on warm passes. Two entries, not
# 45: a run has about a minute, a full cold pass takes minutes on 4
# cores, and an LSH, IVF-recall, trained-PQ or minhash entry alone adds
# 10-20 s of cold work. The LSH index is built, ingested into and served
# by serve_ingest_20k, which also carries the recall checks.
PIPELINE_ENTRIES = ("text_repetition_filter", "kmeans_train_centroids")
ANN_ENTRIES = ("kmeans_train_centroids",)
CURATION_ENTRIES = ("text_repetition_filter",)
WARMUP_PASSES = 2  # held out: the JVM's JIT is still settling
WARM_PASSES = 5  # measured, at least; more while --seconds lasts

DIMS = 64
K = 10


def output_digest(df) -> str:
    """md5 of the sorted norm_cell rows, the digest
    tests/test_expected_hashes.py pins."""
    from tools.determinism_check import norm_cell

    cols = sorted(df.columns)
    rows = sorted("\x1f".join(norm_cell(r[c]) for c in cols) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def _model_files(model_dir: str) -> dict[str, tuple[float, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(model_dir):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _writes(before: dict, after: dict) -> int:
    return sum(1 for p, s in after.items() if before.get(p) != s)


class Outcome:
    """What a workload hands back to run.py."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str, ops: int = 1) -> None:
        """Record ``ops`` attempted operations, failed unless ``ok``."""
        self.attempted += ops
        if not ok:
            self.failed += ops
            self.errors.append(what)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _setup(run, land=None) -> float:
    """Start the JVM once (with its warm-up job), then run ``land()``, if
    given, three times; returns JVM start + median landing time."""
    jvm_s, _ = _timed(run.session.start_spark)
    run.out.detail["jvm_start_s"] = jvm_s
    if land is None:
        return jvm_s
    times = [_timed(land)[0] for _ in range(3)]
    run.out.detail["landing_s"] = times
    return jvm_s + median(times)


def _spark_layers(run, groups_of) -> dict[str, float]:
    """Fold event-log job groups into the spark.*/io.* layer metrics and
    return the totals. ``groups_of(group)`` names the bucket a group
    counts in ("build" or any other), or None to skip it."""
    ev = event_log_metrics(run.dirs["events"])
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                            "input_bytes", "shuffle_bytes")}
    build_jobs = 0
    for group, m in ev.items():
        bucket = groups_of(group)
        if bucket is None:
            continue
        if bucket == "build":
            build_jobs += m["jobs"]
        for k in tot:
            tot[k] += m[k]
    L = run.out.layers
    L["spark.jobs"] = tot["jobs"]
    L["spark.stages"] = tot["stages"]
    L["spark.tasks"] = tot["tasks"]
    L["spark.build_jobs"] = build_jobs
    L["spark.executor_cpu_s"] = tot["cpu_s"]
    L["spark.jvm_gc_s"] = tot["gc_s"]
    L["io.input_bytes"] = tot["input_bytes"]
    L["spark.shuffle_bytes"] = tot["shuffle_bytes"]
    return tot


# ---------------------------------------------------------------- pipeline


def pipeline(run) -> None:
    out = run.out
    out.metrics["setup_s"] = _setup(run)
    spark = run.session.spark
    sc = spark.sparkContext
    from vector_search_go_spark import registry

    qs = registry.queries()
    expected = load_expected()["pipeline"]
    tr = run.tracer

    def execute(name: str, label: str):
        if tr.enabled:
            sc.setJobGroup(f"{label}|{name}|build", name)
        with tr.span("queries.build"):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
        if tr.enabled:
            sc.setJobGroup(f"{label}|{name}|exec", name)
        with tr.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()  # every column
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1, df

    def check(name: str, df, label: str) -> None:
        """Digest an output outside the timers, in a job group that the
        layer metrics skip; a wrong output is a failed operation."""
        if tr.enabled:
            sc.setJobGroup(f"check|{name}", name)
        got = output_digest(df)
        out.check(got == expected[name]["digest"], f"{label} {name} digest {got}")

    # cold pass: empty model dir, HEADLINE order
    before = _model_files(run.dirs["models"])
    cold: dict[str, float] = {}
    cold_cpu = 0.0
    for name in PIPELINE_ENTRIES:
        c0 = tree_cpu_s()
        b, e, df = execute(name, "cold")
        cold_cpu += tree_cpu_s() - c0
        cold[name] = b + e
        check(name, df, "cold")
    out.metrics["build_cpu_s"] = cold_cpu
    cold_writes = _writes(before, _model_files(run.dirs["models"]))

    # warm passes in seeded order: held-out ones, then measured ones
    # until --seconds. They read the models back, so their outputs are
    # checked as the cold ones are.
    rng = random.Random(run.seed)
    passes: list[dict[str, tuple[float, float]]] = []
    pass_cpu: list[float] = []
    call_cpu_ms: dict[str, list[float]] = {n: [] for n in PIPELINE_ENTRIES}
    warm_writes = 0
    t_end = time.perf_counter() + run.seconds
    for i in itertools.count():
        held_out = i < WARMUP_PASSES
        if not held_out and len(passes) >= WARM_PASSES and time.perf_counter() >= t_end:
            break
        order = list(PIPELINE_ENTRIES)
        rng.shuffle(order)
        label = f"hold{i}" if held_out else f"warm{len(passes)}"
        before = _model_files(run.dirs["models"])
        p, cpu_ms = {}, {}
        for name in order:
            c0 = tree_cpu_s()
            b, e, df = execute(name, label)
            cpu_ms[name] = (tree_cpu_s() - c0) * 1e3
            p[name] = (b, e)
            check(name, df, label)
        warm_writes += _writes(before, _model_files(run.dirs["models"]))
        if held_out:
            continue
        for name, ms in cpu_ms.items():
            call_cpu_ms[name].append(ms)
        pass_cpu.append(sum(cpu_ms.values()) / 1e3)
        passes.append(p)
    totals = [sum(b + e for b, e in p.values()) for p in passes]
    out.metrics["pass_cpu_s"] = median(pass_cpu)
    out.metrics["query_cpu_ms"] = sum(median(v) for v in call_cpu_ms.values())
    out.check(warm_writes == 0, f"warm passes wrote {warm_writes} model files", ops=0)
    out.check(cold_writes > 0, "cold pass wrote no model files", ops=0)

    def warm_subtotal(names):
        return median([sum(sum(p[n]) for n in names) for p in passes])

    out.detail.update(
        cold_pass_s=sum(cold.values()),
        warm_pass_s=median(totals),
        entry_cpu_ms={n: median(v) for n, v in call_cpu_ms.items()},
        warm_ann_s=warm_subtotal(ANN_ENTRIES),
        warm_curation_s=warm_subtotal(CURATION_ENTRIES),
        warm_passes=len(passes),
        cold_s=cold,
        warm_pass_cpu_s=pass_cpu,
    )
    run.session.stop_spark()
    if not tr.enabled:
        return
    L = out.layers
    warm_med = {n: median([sum(p[n]) for p in passes]) for n in PIPELINE_ENTRIES}
    L["queries.build_s"] = median([sum(b for b, _ in p.values()) for p in passes])
    L["queries.exec_s"] = median([sum(e for _, e in p.values()) for p in passes])
    L["queries.cold_extra_s"] = sum(cold[n] - warm_med[n] for n in PIPELINE_ENTRIES)
    L["operators.model_writes.cold"] = cold_writes
    L["operators.model_writes.warm"] = warm_writes
    n_warm = len(passes)

    def bucket(group: str):
        parts = group.split("|")
        if len(parts) != 3 or not parts[0].startswith("warm"):
            return None
        return parts[2]

    tot = _spark_layers(run, bucket)
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.build_jobs",
              "spark.executor_cpu_s", "spark.jvm_gc_s", "io.input_bytes",
              "spark.shuffle_bytes"):
        L[k] = L[k] / n_warm  # per warm pass
    exec_wall = L["queries.exec_s"] * n_warm
    L["spark.task_busy_frac"] = tot["run_s"] / (exec_wall * run.cores) if exec_wall else 0.0


# ------------------------------------------------------------ serving data


def clustered(rng, n: int, centres: np.ndarray) -> np.ndarray:
    return centres[rng.integers(0, len(centres), n)] + rng.normal(size=(n, centres.shape[1]))


def centres() -> np.ndarray:
    """64 Gaussian centres, drawn as tools/scale_probe.py draws them.
    Fixed: the seed draws the corpus, chunks and queries around them, so
    seeds vary the sample, not the cluster geometry that sets bucket and
    shard sizes."""
    return np.random.default_rng(7).normal(size=(64, DIMS)) * 2.0


def land_vectors(X: np.ndarray, path: str, start_id: int = 0) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.table({
        "id": pa.array(np.arange(start_id, start_id + len(X)), pa.int64()),
        "vec": pa.FixedSizeListArray.from_arrays(pa.array(X.reshape(-1)), DIMS).cast(
            pa.list_(pa.float64())
        ),
    })
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int = K) -> np.ndarray:
    """numpy exact L2 kNN ids (ids are row positions)."""
    d = (Q * Q).sum(1)[:, None] - 2.0 * Q @ X.T + (X * X).sum(1)[None, :]
    part = np.argpartition(d, k, axis=1)[:, :k]
    return part


def recall(found: list[np.ndarray], truth: np.ndarray) -> float:
    return float(np.mean([len(set(f.tolist()) & set(t.tolist())) / K
                          for f, t in zip(found, truth)]))


def _install_serve_spans(tr) -> None:
    """Span the serving layers from outside: the hasher, the parquet
    index reads, the reader entry points and the sharded router."""
    from vector_search_go_spark.lsh.hasher import Forest
    from vector_search_go_spark.serve import local_reader as lr
    from vector_search_go_spark.serve import pqindex
    from vector_search_go_spark.serve.sharded import ShardedReader

    def nrows(t):
        return 0 if t is None else t.num_rows

    tr.wrap(Forest, "hash_batch", "lsh.hasher.hash")
    tr.wrap(Forest, "probe_batch", "lsh.hasher.probe")
    # row-group reads: the parquet decodes of the LSH bucket probes
    tr.wrap(pqindex.RowGroupIndex, "read", "serve.pqindex.read", rows=nrows)
    tr.wrap(lr.LocalLshReader, "search", "serve.search")
    # the scan store is sharded: its per-shard readers run under the router
    tr.wrap(lr.LocalScanReader, "search", "serve.shard_search")
    tr.wrap(ShardedReader, "search", "serve.sharded.search")


def _serve_layers(run, n_queries: int) -> None:
    """Serving layer metrics per query answered (point or batch)."""
    tr, L = run.tracer, run.out.layers
    per_q = 1e3 / max(1, n_queries)
    reads = tr.of("serve.pqindex.read")
    rows = sum(s["rows"] or 0 for s in reads)
    L["lsh.hasher.hash_ms"] = tr.total_s("lsh.hasher.hash") * per_q
    L["lsh.hasher.probe_ms"] = tr.total_s("lsh.hasher.probe") * per_q
    # reads run on pool threads: count the wall time they cover, not
    # the sum of overlapping durations
    L["serve.pqindex.read_ms"] = tr.covered_s("serve.pqindex.read") * per_q
    L["serve.pqindex.reads_per_query"] = len(reads) / max(1, n_queries)
    L["serve.pqindex.rows_per_query"] = rows / max(1, n_queries)
    L["serve.score_ms"] = (tr.self_s("serve.search") + tr.self_s("serve.shard_search")) * per_q
    L["serve.rows_per_hit"] = rows / max(1, n_queries * K)
    L["serve.sharded.shard_max_ms"] = tr.children_max_s(
        "serve.sharded.search", "serve.shard_search") * per_q
    L["serve.sharded.merge_ms"] = tr.self_s("serve.sharded.search") * per_q


# ----------------------------------------------------------- serve+ingest

CORPUS_N = 20_000
SHARDS = 2
CHUNK = 2_000
LSH_SETTINGS = dict(n_trees=8, k_min_vecs=100, seed=42, sample_size=20_000,
                    max_bucket_size=800)
WARMUP_QUERIES = 10
N_CYCLES = 3
CYCLE_QUERIES = 30  # LSH point queries after each ingest cycle
ROUND_QUERIES = 25  # point queries per family per read round


def serve_ingest(run) -> None:
    import pandas as pd
    import pyarrow.parquet as pq

    out, tr = run.out, run.tracer
    rng = np.random.default_rng(run.seed)
    cent = centres()
    X = clustered(rng, CORPUS_N, cent)
    data = run.dirs["data"]
    corpus_dir, stores = os.path.join(data, "corpus"), data

    def land():
        shutil.rmtree(corpus_dir, ignore_errors=True)
        land_vectors(X, corpus_dir)

    landed_s = _setup(run, land)
    spark = run.session.spark

    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.operators.exact_knn import scan_save
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.streaming import ingest as ing
    from vector_search_go_spark.streaming import maintain as mt

    # build: LSH (the ingest target) and an exact scan store in two
    # id-shards behind the sharded router (per-shard top-k, global merge)
    if tr.enabled:
        spark.sparkContext.setJobGroup("build", "build")
    build = {}
    t_build, c_build = time.perf_counter(), tree_cpu_s()
    corpus = spark.read.parquet(corpus_dir).repartition(run.cores).cache()
    build["read"], _ = _timed(corpus.count)
    build["lsh.train"], idx = _timed(
        lambda: LshIndex.train(spark, corpus, LshConfig(dims=DIMS, **LSH_SETTINGS)))
    build["lsh.save"], _ = _timed(lambda: idx.save(f"{stores}/lsh"))
    build["scan"], _ = _timed(
        lambda: scan_save(spark, corpus, f"{stores}/scan", metric="l2", shards=SHARDS))
    build["wall"] = time.perf_counter() - t_build
    out.metrics["build_cpu_s"] = tree_cpu_s() - c_build
    corpus.unpersist()

    if tr.enabled:
        _install_serve_spans(tr)
        tr.wrap(ing, "ingest_to_lsh_store", "streaming.drain")
        tr.wrap(mt, "bucket_staleness", "streaming.staleness")
        tr.wrap(ing, "compact_bucket_store", "streaming.compact")
        tr.wrap(ing, "compact_vectors_store", "streaming.compact")

    openers = {
        "lsh": lambda: LocalLshReader(f"{stores}/lsh", metric="l2"),
        "scan": lambda: ShardedReader(f"{stores}/scan", max_workers=min(SHARDS, run.cores)),
    }
    readers: dict = {}

    def reopen(fam):
        if fam in readers:
            run.session.close(readers.pop(fam))
        with tr.span("serve.reader_open"):
            readers[fam] = run.session.open(openers[fam]())

    def open_all():
        for fam in openers:
            reopen(fam)

    open_s = [_timed(open_all)[0] for _ in range(3)]
    out.metrics["setup_s"] = landed_s + median(open_s)
    served = [0]  # queries answered, point or batch: the per-layer divisor

    def search(fam, q, qid=0):
        served[0] += 1
        return readers[fam].search(q, k=K, query_id=qid)

    for fam in readers:  # held-out warm-up
        for q in clustered(rng, WARMUP_QUERIES, cent):
            search(fam, q)

    # ingest beside reads: each cycle lands an in-distribution chunk,
    # runs ingest_cycle under its default compaction policy, re-opens
    # the LSH reader and runs a batch of LSH point queries
    vectors = X
    cycles, cycle_cpu, ingest_s, reopen_s, fragments = [], [], [], [], []
    actions = {"none": 0, "compacted": 0, "rebuilt": 0}
    ing_lat, ing_found, ing_truth = [], [], []
    for c in range(N_CYCLES):
        Y = clustered(rng, CHUNK, cent)
        start = len(vectors)
        chunk_dir = os.path.join(data, f"chunk{c}")
        if tr.enabled:
            spark.sparkContext.setJobGroup(f"cycle{c}", "ingest")
        t_cycle, c_cycle = time.perf_counter(), tree_cpu_s()
        land_vectors(Y, chunk_dir, start_id=start)
        stream = spark.readStream.schema("id bigint, vec array<double>").parquet(chunk_dir)
        dt, report = _timed(lambda: mt.ingest_cycle(
            spark, stream, f"{stores}/lsh", os.path.join(data, f"ckpt{c}")))
        ingest_s.append(dt)
        actions[report["action"]] += 1
        reopen_s.append(_timed(lambda: reopen("lsh"))[0])
        vectors = np.concatenate([vectors, Y])
        Q = clustered(rng, CYCLE_QUERIES, cent)
        for q in Q:
            t0 = time.perf_counter()
            res = search("lsh", q)
            ing_lat.append((time.perf_counter() - t0) * 1e3)
            ing_found.append(res["id"].to_numpy())
        cycles.append(time.perf_counter() - t_cycle)
        cycle_cpu.append(tree_cpu_s() - c_cycle)
        ing_truth.append(exact_topk(vectors, Q))
        # outside the cycle timer: the store holds built + ingested
        # vectors, and a just-ingested vector finds itself at rank 1
        n_vec = pq.ParquetDataset(f"{stores}/lsh/vectors").read(columns=["id"]).num_rows
        out.check(n_vec == len(vectors), f"cycle {c}: {n_vec} vectors != {len(vectors)}", ops=0)
        probe = start + int(rng.integers(0, CHUNK))
        top = search("lsh", vectors[probe])
        out.check(len(top) > 0 and int(top["id"].iloc[0]) == probe,
                  f"cycle {c}: self-query of {probe} not at rank 1")
        fragments.append((ing.parquet_file_count(f"{stores}/lsh/buckets"),
                           ing.parquet_file_count(f"{stores}/lsh/vectors")))
    run.session.stop_spark()

    # pure reads, no Spark job running: rounds of point queries and one
    # search_many batch per family, until --seconds
    lat = {f: [] for f in readers}
    cpu_ms = {f: [] for f in readers}  # this process's CPU per point query
    found = {f: [] for f in readers}
    queries, rounds = [], []
    batch_rows, batch_s = 0, 0.0
    t_end = time.perf_counter() + run.seconds
    while len(rounds) < 2 or time.perf_counter() < t_end:
        Q = clustered(rng, ROUND_QUERIES, cent)
        t_round = time.perf_counter()
        for fam in readers:
            for q in Q:
                t0, c0 = time.perf_counter(), time.process_time()
                res = search(fam, q)
                lat[fam].append((time.perf_counter() - t0) * 1e3)
                cpu_ms[fam].append((time.process_time() - c0) * 1e3)
                found[fam].append(res["id"].to_numpy())
            t0 = time.perf_counter()
            many = readers[fam].search_many(Q, k=K, query_ids=list(range(len(Q))))
            batch_s += time.perf_counter() - t0
            batch_rows += len(Q)
            served[0] += len(Q)
            if not rounds:  # search_many equals per-query search on a sample
                single = pd.concat([search(fam, q, i) for i, q in enumerate(Q)],
                                   ignore_index=True)
                out.check(many.reset_index(drop=True).equals(single),
                          f"{fam} search_many rows differ from search", ops=0)
        rounds.append(time.perf_counter() - t_round)
        queries.append(Q)

    Qall = np.concatenate(queries)
    rec = {"lsh_ingest": recall(ing_found, np.concatenate(ing_truth))}
    for fam in readers:  # only the LSH store took the ingested chunks
        rec[fam] = recall(found[fam], exact_topk(vectors if fam == "lsh" else X, Qall))
    floor = load_expected()["serve_ingest"]["recall_floor"]
    for fam, r in rec.items():
        n = len(ing_found) if fam == "lsh_ingest" else len(found[fam])
        out.check(r >= floor[fam], f"{fam} recall@10 {r:.4f} < {floor[fam]}", ops=n)

    out.metrics["pass_cpu_s"] = median(cycle_cpu)
    out.metrics["query_cpu_ms"] = sum(median(v) for v in cpu_ms.values())
    read_p50_ms = median([x for v in lat.values() for x in v])
    lat["lsh_ingest"] = ing_lat
    out.detail.update(
        build_s=build, reader_open_s=open_s, reopen_s=reopen_s, ingest_cycle_s=ingest_s,
        ingest_rows_per_s=CHUNK * N_CYCLES / sum(ingest_s), actions=actions,
        fragments=fragments, recall_at_10=rec, rounds=len(rounds),
        ingest_cycle_wall_s=cycles, query_p50_ms=read_p50_ms,
        batch_qps=batch_rows / batch_s,
        latency_ms={f: {"n": len(v), "p50": median(v), "tail": tail(v)} for f, v in lat.items()},
    )
    if not tr.enabled:
        return
    L = out.layers
    _serve_layers(run, served[0])
    L["serve.reader_open_s"] = median(reopen_s)
    L["lsh.index.train_s"] = build["lsh.train"]
    L["lsh.index.save_s"] = build["lsh.save"]
    L["operators.scan_save_s"] = build["scan"]
    L["streaming.drain_s"] = tr.total_s("streaming.drain") / N_CYCLES
    L["streaming.staleness_s"] = tr.total_s("streaming.staleness") / N_CYCLES
    L["streaming.compact_s"] = tr.total_s("streaming.compact") / N_CYCLES
    for a, n in actions.items():
        L[f"streaming.actions.{a}"] = n
    L["streaming.fragments.buckets"], L["streaming.fragments.vectors"] = fragments[-1]
    tot = _spark_layers(run, lambda g: "build" if g == "build" else "exec")
    wall = build["wall"] + sum(ingest_s)
    L["spark.task_busy_frac"] = tot["run_s"] / (wall * run.cores)


WORKLOADS = {
    "pipeline_sf0.1": pipeline,
    "serve_ingest_20k": serve_ingest,
}
