"""Retrieval benchmark for capreolus_spark: ad-hoc BM25 queries over a
batch-built index, and ingest-while-searching over a segmented,
tombstoned index.

Run from the repository root:

    python3 perfbench/run.py --workload adhoc-query --seed 1 --seconds 15 --trace 0

Every workload is a closed loop with one client in this process, on a
``local[nproc]`` Spark session.  Inputs come from ``--seed`` alone.  After
the timed loop, and outside every timing, the outputs are checked against
the BM25 oracle, against repeated runs and against the other search path.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it give the same run in the workload's own terms
(``adhoc_p50_ms``, ``freshness_s``, ...).  README.md in this directory says
what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per process, so a second run in the same checkout cannot delete this one's files
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")

HITS = 1000
STAGES = ("docmap", "tokens", "ranges", "postings", "dict")
BUILD_STAGES = STAGES + ("stats",)

# The full size keeps one run (three set-ups, the timed loop and the
# checks) near a minute on a 4-core host; smoke is for the test only.
SIZES = {
    "full": {"docs": 3_000, "topics": 8, "gen_docs": 750, "batch_topics": 60,
             "delete_frac": 0.01, "build_setups": 3, "ingest_setups": 3, "oracle_topics": 2},
    "smoke": {"docs": 300, "topics": 5, "gen_docs": 60, "batch_topics": 6,
              "delete_frac": 0.05, "build_setups": 2, "ingest_setups": 2, "oracle_topics": 2},
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """What one benchmark run measured and checked."""

    def __init__(self) -> None:
        self.ops = 0
        self.checks = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.info: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(what)

    def op_failed(self, what: str) -> None:
        self.failures.append(what)
        traceback.print_exc(file=sys.stderr)


# ---------------------------------------------------------------- host


def cpu_burn_ms() -> float:
    """Serial pure-Python burn, median of 5: host drift shows next to the
    numbers it would move."""
    vals = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        vals.append((time.perf_counter() - t0) * 1000)
    return statistics.median(vals)


def start_spark(nproc: int):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """VmHWM of this driver process plus the JVM's (executors run inside it)."""
    total_kb = 0
    for pid in (os.getpid(), spark.sparkContext._jvm.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return total_kb / 1024.0


# ---------------------------------------------------------------- inputs


def corpus(spark, n_docs: int, seed: int, prefix: str = ""):
    from pyspark.sql import functions as F

    from capreolus_spark.data.synth import synth_corpus_distributed
    from capreolus_spark.index import make_docid_column

    df = make_docid_column(
        synth_corpus_distributed(spark, n_docs, seed=seed, partitions=8)
    ).select("docid", "content")
    if prefix:
        df = df.withColumn("docid", F.concat(F.lit(prefix), "docid"))
    return df


def topic_list(n: int, seed: int) -> list[tuple[str, str]]:
    """Fixed-order topic mix from synth_queries (without the golden topic):
    one in five is stopword-only and returns no result without a Spark job,
    so the median stays on the searching mode."""
    from capreolus_spark.data import synth_queries

    topics = synth_queries(n + 1, seed=seed)
    topics.pop("301")
    return list(topics.items())


def index_config():
    from capreolus_spark.index import IndexConfig

    return IndexConfig(stemmer="porter")


# ---------------------------------------------------------------- checks


def digest(run: dict) -> str:
    """Digest of a ranked list as a TREC run file holds it (4 dp scores)."""
    h = hashlib.sha1()
    for docid, score in run.items():
        h.update(f"{docid} {round(score, 4):.4f}\n".encode())
    return h.hexdigest()


def canonical(ranked: list[tuple[str, float]], cut: bool) -> list[tuple[float, str]]:
    """A ranking as a TREC run file compares: scores to 4 decimal places,
    ties in that precision ordered by docid.  The engine and the oracle sum
    the same terms in different orders, so documents with equal scores can
    differ in the last bit and swap places; this form is blind to that.
    With ``cut`` (the list was truncated at HITS) the tie group the cut runs
    through is dropped, since which of its members made the cut depends on
    those same last bits."""
    rows = sorted((-round(score, 4), docid) for docid, score in ranked)
    if cut and rows:
        rows = [r for r in rows if r[0] != rows[-1][0]]
    return rows


def oracle_mismatches(spark, docs, topics: dict, runs: dict, dead=frozenset()) -> list[str]:
    """Qids whose ranking differs from bm25_oracle over ``docs`` (compared
    in canonical form).  Tombstoned docs keep counting in the collection
    statistics, so the oracle ranks all of ``docs`` and the dead ones are
    dropped from its list."""
    from capreolus_spark.search.oracle import bm25_oracle

    rows = bm25_oracle(spark, docs, topics, hits=HITS + len(dead)).collect()
    expected: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        if r["docid"] not in dead:
            expected.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    bad = []
    for qid in topics:
        exp = expected.get(qid, [])[:HITS]
        got = list(runs.get(qid, {}).items())
        cut = max(len(exp), len(got)) >= HITS
        if canonical(exp, cut) != canonical(got, cut):
            bad.append(qid)
    return bad


def perturb(run: dict) -> dict:
    """Drop the top-ranked document (``--perturb``: the checks must fail)."""
    return dict(list(run.items())[1:])


# ---------------------------------------------------------------- index facts


def stage_files(index_dir: str) -> dict[str, tuple[int, int]]:
    """(parquet bytes, parquet files) per index stage directory."""
    out = {}
    for stage in STAGES:
        total = files = 0
        for root, _, names in os.walk(os.path.join(index_dir, stage)):
            for name in names:
                if name.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, name))
                    files += 1
        out[stage] = (total, files)
    return out


def content_bytes(docs) -> int:
    from pyspark.sql import functions as F

    return int(docs.agg(F.sum(F.octet_length("content"))).collect()[0][0] or 0)


def manifest_stage_s(index_dir: str) -> dict[str, float]:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        stages = json.load(f)["stages"]
    return {s: stages[s]["wall_ms"] / 1000.0 for s in BUILD_STAGES}


# ---------------------------------------------------------------- tracing


def install_spans(tracer) -> None:
    """Spans around the public entry points of each layer."""
    from capreolus_spark import index as index_mod
    from capreolus_spark import task as task_mod
    from capreolus_spark.index import InvertedIndex
    from capreolus_spark.search import BM25Searcher
    from capreolus_spark.streaming.incremental import IncrementalIndexer

    def result_rows(rec, args, kwargs, result):
        rec["rows"] = sum(len(v) for v in result.values())

    def term_misses(rec, args, kwargs, result):
        terms = set(args[1])
        rec["lookups"] = len(terms)
        rec["misses"] = len(terms - tracer.seen_terms)
        tracer.seen_terms |= terms

    tracer.wrap(BM25Searcher, "analyze_topics", "analysis.topics")
    tracer.wrap(InvertedIndex, "get_term_stats", "index.term_stats", after=term_misses)
    tracer.wrap(index_mod, "build_index", "index.build")
    tracer.wrap(InvertedIndex, "delete_docs", "index.delete")
    tracer.wrap(BM25Searcher, "search_collect", "search", after=result_rows)
    tracer.wrap(IncrementalIndexer, "ingest_batch", "streaming.ingest")
    tracer.wrap(IncrementalIndexer, "refresh_stats", "streaming.refresh")
    tracer.wrap(task_mod.RankTask, "searcheval", "task.searcheval")
    tracer.wrap(task_mod, "search_best_run", "evaluation.best_run")
    tracer.wrap(task_mod, "write_trec_run", "io.write_run")


def plan_probe(tracer, searcher, topics: dict) -> None:
    """Time until ``search()`` returns its lazy frame (no Spark action)."""
    if tracer is None:
        return
    with tracer.span("search.plan"), tracer.suspended():
        searcher.search(topics, hits=HITS)


def layer_metrics(tracer, build_stage_s: list[dict], files: dict, op_walls: list) -> dict:
    med = tracer.median
    lookups = sum(s.get("lookups", 0) for s in tracer.calls("index.term_stats"))
    misses = sum(s.get("misses", 0) for s in tracer.calls("index.term_stats"))
    m = {
        "analysis.topics_ms": med("analysis.topics"),
        "index.term_stats_ms": med("index.term_stats"),
        "index.term_stats_miss_ratio": misses / lookups if lookups else 0.0,
    }
    for stage in BUILD_STAGES:
        vals = [s[stage] for s in build_stage_s]
        m[f"index.build.{stage}_s"] = statistics.median(vals) if vals else 0.0
    for field in ("run_ms", "cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes", "jobs"):
        m[f"index.build.{field}"] = med("index.build", field)
    for stage in STAGES:
        m[f"index.bytes.{stage}"] = float(files[stage][0])
    m["index.delete.run_ms"] = med("index.delete", "run_ms")
    m["index.delete.jobs"] = med("index.delete", "jobs")
    m["search.plan_ms"] = med("search.plan")
    m["search.action_ms"] = med("search", "job_ms")
    for field in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
        m[f"search.{field}"] = med("search", field)
    m["search.result_rows"] = med("search", "rows")
    m["streaming.ingest_ms"] = med("streaming.ingest")
    m["streaming.refresh_ms"] = med("streaming.refresh")
    m["streaming.segments"] = float(files["postings"][1])
    m["evaluation.best_run_ms"] = med("evaluation.best_run")
    m["io.write_run_ms"] = med("io.write_run")
    m["task.searcheval_ms"] = med("task.searcheval")
    m["trace.op_p50_ms"] = statistics.median(op_walls) * 1000.0 if op_walls else 0.0
    return m


def span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def quiet(tracer):
    return tracer.suspended() if tracer is not None else nullcontext()


def begin_op(tracer, op_id: int) -> None:
    if tracer is not None:
        tracer.op_id = op_id


# ---------------------------------------------------------------- workloads


def corpus_and_index(spark, seed: int, n_docs: int, index_dir: str):
    """Generate the corpus (persisted) and build a batch index over it.
    Returns (corpus frame, doc count, total seconds, build seconds)."""
    from capreolus_spark.index import InvertedIndex

    t0 = time.perf_counter()
    docs = corpus(spark, n_docs, seed).persist()
    n = docs.count()
    t1 = time.perf_counter()
    InvertedIndex.create(spark, docs, index_dir, index_config())
    t2 = time.perf_counter()
    return docs, n, t2 - t0, t2 - t1


def adhoc_query(spark, args, size: dict, tracer, run: Run) -> None:
    """One BM25Searcher.query at a time over an index that is not
    persisted, so every call reads parquet: the per-call fixed cost
    (analysis, term lookup, ~6 Spark jobs) dominates the scoring work."""
    from capreolus_spark.config import BM25Config
    from capreolus_spark.index import InvertedIndex
    from capreolus_spark.search import BM25Searcher

    setups, builds, docs, index_dir = [], [], None, None
    for i in range(size["build_setups"]):
        begin_op(tracer, -1 - i)
        if docs is not None:
            docs.unpersist()
        index_dir = os.path.join(WORK, f"adhoc-{i}")
        with span(tracer, "setup"):
            docs, n_docs, total_s, build_s = corpus_and_index(spark, args.seed, size["docs"], index_dir)
        setups.append(total_s)
        builds.append(build_s)
    log(f"set-ups done: {[round(s, 2) for s in setups]}")

    seq = topic_list(size["topics"], args.seed)
    searcher = BM25Searcher(InvertedIndex(spark, index_dir), BM25Config(hits=HITS))
    with quiet(tracer):
        searcher.query(seq[0][1])  # warm-up: the scoring kernel's first call
    lat, digests, results = [], {}, {}
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while run.ops == 0 or time.perf_counter() < deadline:
        qid, text = seq[run.ops % len(seq)]
        begin_op(tracer, run.ops)
        run.ops += 1
        t0 = time.perf_counter()
        try:
            with span(tracer, "op.query"):
                ranked = searcher.query(text)
        except Exception:
            run.op_failed(f"query {qid} raised")
            continue
        lat.append(time.perf_counter() - t0)
        digests.setdefault(qid, set()).add(digest(ranked))
        results[qid] = ranked
        plan_probe(tracer, searcher, {qid: text})
    elapsed = time.perf_counter() - t_start
    if tracer is not None:
        tracer.restore()
    log(f"timed loop done: {len(lat)} queries")

    # ---- checks, outside every timing
    checked = [qid for qid, _ in seq if results.get(qid)][: size["oracle_topics"]]
    if args.perturb and checked:
        results[checked[0]] = perturb(results[checked[0]])
        digests[checked[0]].add(digest(results[checked[0]]))
    for qid, ds in digests.items():
        run.check(len(ds) == 1, f"query {qid}: {len(ds)} different results on repetition")
    batch = searcher.search_collect({qid: text for qid, text in seq if qid in results})
    for qid, ranked in results.items():
        run.check(
            digest(batch.get(qid, {})) == digest(ranked),
            f"query {qid}: batch search_collect differs from ad-hoc query",
        )
    log("repetition and batch checks done")
    bad = oracle_mismatches(spark, docs, {q: t for q, t in seq if q in checked}, results)
    for qid in checked:
        run.check(qid not in bad, f"query {qid}: differs from bm25_oracle")
    log("checks done")

    files = stage_files(index_dir)
    run.e2e = {
        "setup_s": statistics.median(setups),
        "op_p50_ms": statistics.median(lat) * 1000.0,
        "search_qps": len(lat) / elapsed,
        "index_docs_per_s": n_docs / statistics.median(builds),
        "peak_rss_mb": peak_rss_mb(spark),
        "index_space_ratio": sum(b for b, _ in files.values()) / content_bytes(docs),
    }
    run.info = {
        "adhoc_p50_ms": (run.e2e["op_p50_ms"], "ms"),
        "adhoc_queries": (len(lat), "count"),
        "adhoc_empty_results": (sum(1 for r in results.values() if not r), "count"),
        "build_docs_per_s": (run.e2e["index_docs_per_s"], "docs/s"),
        "corpus_docs": (n_docs, "count"),
    }
    if tracer is not None:
        tracer.resolve()
        run.layers = layer_metrics(
            tracer,
            [manifest_stage_s(os.path.join(WORK, f"adhoc-{i}")) for i in range(size["build_setups"])],
            files,
            lat,
        )


def make_benchmark(topics: list[tuple[str, str]], judged_docids: list[str], seed: int):
    """Topics with seeded qrels (three judged docs each) and three folds
    whose test sets partition the topics."""
    from capreolus_spark.benchmark import Benchmark

    rng = random.Random(seed)
    qids = [qid for qid, _ in topics]
    qrels = {qid: {d: 1 for d in rng.sample(judged_docids, 3)} for qid in qids}
    parts = [qids[i::3] for i in range(3)]
    folds = {
        f"s{k + 1}": {
            "train_qids": parts[k],
            "predict": {"dev": parts[(k + 1) % 3], "test": parts[(k + 2) % 3]},
        }
        for k in range(3)
    }
    return Benchmark(topics=dict(topics), qrels=qrels, folds=folds)


class Segmented:
    """An IncrementalIndexer index plus what the client knows about it:
    every generation it ingested and which docids are live or dead."""

    def __init__(self, spark, seed: int, n_docs: int, index_dir: str):
        from capreolus_spark.streaming.incremental import IncrementalIndexer

        self.spark = spark
        self.index_dir = index_dir
        self.base = corpus(spark, n_docs, seed).persist()
        self.base.count()
        self.indexer = IncrementalIndexer(spark, index_dir, index_config())
        self.indexer.ingest_batch(self.base)
        self.indexer.refresh_stats()
        self.gens = [self.base]
        self.live = [r["docid"] for r in self.base.select("docid").collect()]
        self.dead: set[str] = set()

    def cycle(self, gen, gen_ids: list[str], n_victims: int, rng, bench, out_dir: str) -> dict:
        """Ingest ``gen``, refresh, tombstone ``n_victims`` live docs, then
        rank.searcheval.  Returns the step timings and what each returned."""
        from capreolus_spark.index import InvertedIndex
        from capreolus_spark.task import RankTask

        t0 = time.perf_counter()
        self.indexer.ingest_batch(gen)
        t1 = time.perf_counter()
        stats = self.indexer.refresh_stats()
        t2 = time.perf_counter()
        self.gens.append(gen)
        self.live.extend(gen_ids)
        index = InvertedIndex(self.spark, self.index_dir)
        victims = rng.sample(self.live, n_victims)
        index.delete_docs(victims)
        t3 = time.perf_counter()
        result = RankTask(index, bench, out_dir, hits=HITS).searcheval()
        t4 = time.perf_counter()
        self.dead.update(victims)
        self.live = [d for d in self.live if d not in self.dead]
        return {"ingest": t1 - t0, "refresh": t2 - t1, "delete": t3 - t2, "search": t4 - t3,
                "cycle": t4 - t0, "stats": stats, "index": index, "run": result["test_run"]}

    def unpersist(self) -> None:
        self.base.unpersist()


def next_generation(spark, seed: int, c: int, n_docs: int):
    """Generation ``c`` (lazy: generation is deterministic, so the oracle
    check can recompute it) and its docids."""
    gen = corpus(spark, n_docs, seed * 1000 + c + 1, prefix=f"g{c}/")
    return gen, [r["docid"] for r in gen.select("docid").collect()]


def ingest_search(spark, args, size: dict, tracer, run: Run) -> None:
    """Writes beside reads: each cycle ingests a generation, refreshes the
    statistics (the new docs become searchable), tombstones ~1% of the live
    docs, then runs rank.searcheval over the segmented, tombstoned index."""
    from capreolus_spark.config import BM25Config
    from capreolus_spark.index import InvertedIndex
    from capreolus_spark.search import BM25Searcher

    setups, seg = [], None
    for i in range(size["ingest_setups"]):
        begin_op(tracer, -1 - i)
        if seg is not None:
            seg.unpersist()
        t0 = time.perf_counter()
        with span(tracer, "setup"):
            seg = Segmented(spark, args.seed, size["docs"], os.path.join(WORK, f"ingest-{i}"))
        setups.append(time.perf_counter() - t0)
    log(f"set-ups done: {[round(s, 2) for s in setups]}")
    seq = topic_list(size["batch_topics"], args.seed)
    rng = random.Random(args.seed)
    expected_docs = len(seg.live)
    bench = make_benchmark(seq, seg.live, args.seed)

    steps = {"ingest": [], "refresh": [], "delete": [], "search": [], "cycle": []}
    last_run = {}
    deadline = time.perf_counter() + args.seconds
    # at least two cycles, so a cycle that ends just past the deadline on a
    # slow host does not halve the sample
    while run.ops < 2 or time.perf_counter() < deadline:
        c = run.ops
        run.ops += 1
        # the client prepares its next batch before the cycle's clock starts
        gen, gen_ids = next_generation(spark, args.seed, c, size["gen_docs"])
        n_victims = max(1, round(size["delete_frac"] * (len(seg.live) + len(gen_ids))))
        begin_op(tracer, c)
        try:
            with span(tracer, "op.cycle"):
                out = seg.cycle(gen, gen_ids, n_victims, rng, bench, os.path.join(WORK, "rank", str(c)))
        except Exception:
            run.op_failed(f"cycle {c} raised")
            break
        for key in steps:
            steps[key].append(out[key])
        expected_docs += len(gen_ids)
        last_run = out["run"]
        run.check(out["stats"]["n_docs"] == expected_docs,
                  f"cycle {c}: refresh_stats counts {out['stats']['n_docs']} docs, "
                  f"ingested {expected_docs}")
        run.check(not any(d in seg.dead for ranked in last_run.values() for d in ranked),
                  f"cycle {c}: a tombstoned doc was returned")
        plan_probe(tracer, BM25Searcher(out["index"], BM25Config(hits=HITS)), dict(seq))
    if tracer is not None:
        tracer.restore()
    log(f"timed loop done: {len(steps['cycle'])} cycles")

    # ---- checks on the final index, outside every timing (repetition and
    # ad-hoc-versus-batch digests are checked on adhoc-query)
    checked = [qid for qid, _ in seq if last_run.get(qid)][: size["oracle_topics"]]
    if args.perturb and checked:
        last_run[checked[0]] = perturb(last_run[checked[0]])
    subset = {qid: text for qid, text in seq if qid in checked}
    everything = seg.gens[0]
    for g in seg.gens[1:]:
        everything = everything.unionByName(g)
    bad = oracle_mismatches(spark, everything, subset, last_run, dead=frozenset(seg.dead))
    for qid in checked:
        run.check(qid not in bad, f"topic {qid}: differs from bm25_oracle")
    log("checks done")

    files = stage_files(seg.index_dir)
    freshness = [a + b for a, b in zip(steps["ingest"], steps["refresh"])]
    run.e2e = {
        "setup_s": statistics.median(setups),
        "op_p50_ms": statistics.median(steps["cycle"]) * 1000.0,
        "search_qps": len(seq) * len(steps["search"]) / sum(steps["search"]),
        "index_docs_per_s": size["gen_docs"] / statistics.median(freshness),
        "peak_rss_mb": peak_rss_mb(spark),
        "index_space_ratio": sum(b for b, _ in files.values()) / content_bytes(everything),
    }
    run.info = {
        "ingest_docs_per_s": (size["gen_docs"] / statistics.median(steps["ingest"]), "docs/s"),
        "freshness_s": (statistics.median(freshness), "s"),
        "delete_ms": (statistics.median(steps["delete"]) * 1000.0, "ms"),
        "segmented_qps": (len(seq) / statistics.median(steps["search"]), "1/s"),
        "cycles": (len(steps["cycle"]), "count"),
        "final_docs": (expected_docs, "count"),
        "tombstoned_docs": (len(seg.dead), "count"),
    }
    if tracer is not None:
        tracer.resolve()
        run.layers = layer_metrics(tracer, [], files, steps["cycle"])


WORKLOADS = {"adhoc-query": adhoc_query, "ingest-search": ingest_search}


# ---------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one result before the checks (they must fail)")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "capreolus_spark")) or not os.path.exists(spec_path):
        print(f"perfbench: needs the capreolus_spark package and BENCHMARK.json in {ROOT}",
              file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError:
        print("perfbench: pyspark is not importable", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(spec_path) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    nproc = len(os.sched_getaffinity(0))
    burn = cpu_burn_ms()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    run = Run()
    spark = start_spark(nproc)
    log("spark session up")
    tracer = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, args.workload)
            install_spans(tracer)
        WORKLOADS[args.workload](spark, args, SIZES["smoke" if args.smoke else "full"], tracer, run)
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        log("spark stopped")

    attempted = run.ops + run.checks
    failed = len(run.failures)
    values = run.layers if args.trace else run.e2e
    info = dict(run.info)
    info.update({
        "setup_s": (run.e2e["setup_s"], "s"),
        "peak_rss_mb": (run.e2e["peak_rss_mb"], "MB"),
        "index_space_ratio": (run.e2e["index_space_ratio"], "ratio"),
        "failed_ops_frac": (failed / attempted, "ratio"),
        "nproc": (nproc, "count"),
        "cpu_burn_ms": (burn, "ms"),
    })
    for what in run.failures:
        print(f"FAILED: {what}")
    for name, (value, unit) in info.items():
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": units[name]} for name in wanted},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({**result, "info": {k: v for k, (v, _) in info.items()},
                   "failures": run.failures}, f, indent=2, sort_keys=True)
    if tracer is not None:
        tracer.write(os.path.join(OUT, f"{tag}.spans.jsonl"))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
