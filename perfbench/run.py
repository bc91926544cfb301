#!/usr/bin/env python3
"""Benchmark harness for the engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload wordcount --seed 7 --seconds 7 --trace 0

Run from the repository root. One client drives a SparkSession
(``local[nproc/2]``, shuffle partitions the same, pinned heap); each pass
starts when the previous one returns. A run generates its inputs (cached
per seed), then runs its sessions one after another, each in a fresh
process: set-up, one cold pass, warm-up passes, passes until its share of
``--seconds`` has been measured, then the correctness gate. A workload
with one session adds a session that only sets up, so set-up is sampled
twice. The last line of stdout is the result object; the line before it
is the run context (seed, versions, input sizes, and per session its
set-up, passes and host probe samples).

``--trace 1`` additionally times the calls into each layer from
outside, under one Spark job group per call, and reads the job and
stage counters from Spark's REST status API; it prints the per-layer
metrics and writes its spans under ``perfbench/.work/spans``.

Why each workload exists is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import tracing as tr  # noqa: E402

PKG = "mapreducewordoccurences_spark"
NPROC = len(os.sched_getaffinity(0))
HEAP = "2g"
CORPUS_BYTES = 16 << 20
CORPUS_KEEP = 24  # corpora cached at once (16 MiB each); older ones are regenerated
# half the cores run tasks; the rest are left to the JIT compiler, GC, the
# driver and the host, so a pass measures the engine, not the scheduler
CORES = max(1, NPROC // 2)
# untraced runs split their --seconds over this many fresh processes, so a
# JVM that runs fast or slow throughout is one sample of a run, not all of
# it; iterative's cold and warm-up passes take about 20 s, too long to pay twice
SESSIONS = {"wordcount": 2, "iterative": 1, "media": 2}
SETUP_SAMPLES = 2
SESSION_TIMEOUT_S = 80
# the cold pass and the warm-up passes carry most of the JIT speed-up; after
# them a pass is within a few percent of the next, so the median does not
# depend on how many passes a run's --seconds happened to fit
WARMUP_PASSES = {"wordcount": 1, "iterative": 2, "media": 2}
MIN_PASSES = 2

# bpe_learn_merges and embedding_ivfpq_topk would add 70 jobs (about 4 s
# warm, 6 s cold) to every pass; the run budget leaves room for these four,
# which still cover the PageRank, k-core, connected-components and Lloyd loops
ITERATIVE_ROWS = {
    "pagerank_event_transitions": "operators.graph.pagerank",
    "kcore_near_dup_docs": "operators.graph.kcore",
    "dedup_clusters": "dedup.clusters",
    "kmeans_cluster_profile": "functions.clustering",
}
MEDIA_ROWS = {
    "media_jpeg_dims": "multimodal.jpeg.dims",
    "media_jpeg_dhash_pairs": "multimodal.jpeg.dhash",
}
ROW_METRICS = [
    ("build_s", "s"), ("build_jobs", "count"), ("checkpoint_jobs", "count"),
    ("action_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"),
    ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
]

END_TO_END = [
    ("pass_s", "s"), ("first_pass_s", "s"), ("cpu_s", "s"),
    ("peak_rss_mb", "MiB"), ("setup_s", "s"),
]
PER_LAYER = (
    [("session.import_s", "s"), ("session.start_s", "s"), ("session.warmup_s", "s"),
     ("session.gc_s", "s"),
     ("sources.read_text_s", "s"), ("sources.read_text.tasks", "count"),
     ("sources.read_text.input_bytes", "bytes"),
     ("core.tokenize_s", "s"), ("core.tokens", "count"), ("core.count_words_s", "s"),
     ("core.count_words.cpu_s", "s"), ("core.count_words.shuffle_write_bytes", "bytes"),
     ("core.count_words.shuffle_records", "count"), ("core.combine_ratio", "ratio"),
     ("core.distinct_words", "count"), ("core.count_words_sorted_s", "s"),
     ("core.collect_s", "s"),
     ("plans.plan_s", "s"), ("plans.exchanges", "count"), ("plans.codegen_spans", "count"),
     ("plans.python_eval", "count"),
     ("queries.build_s", "s"), ("queries.jobs", "count")]
    + [(f"{layer}.{m}", u) for layer in {**ITERATIVE_ROWS, **MEDIA_ROWS}.values()
       for m, u in ROW_METRICS]
    + [("multimodal.worker_cpu_s", "s"), ("multimodal.worker_wait_s", "s"),
       ("host.probe_ms", "ms"), ("trace.overhead_s", "s")]
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env(scratch: str = WORK) -> None:
    """Keep every file Spark and its workers write inside the checkout
    (temporary files under ``scratch``), and let Python workers import the
    package (they do not inherit sys.path)."""
    for d in ("cache", "runs", "spans"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # no hsperfdata files in the system temp dir, from the launcher or the JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def setup() -> tuple[object, dict]:
    """Import, session start and one warm-up action, each timed."""
    t0 = time.monotonic()
    import mapreducewordoccurences_spark.queries  # noqa: F401
    from mapreducewordoccurences_spark.session import get_spark

    t1 = time.monotonic()
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": HEAP,
            # a heap sized from free memory made peak RSS follow the host, and
            # how much of a pinned heap G1 had touched varied run to run
            # (±10%): the heap is pinned and pre-touched, so peak_rss_mb moves
            # with off-heap, driver and worker memory; heap pressure shows in GC
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                             "-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
                                             f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t2 = time.monotonic()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.monotonic()
    return spark, {"import_s": t1 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2,
                   "t": (t0, t1, t2, t3)}


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until every process they
    started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = set(tr.tree(proc.pid))
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(tr.alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _plan(spark, tracer, dfs) -> dict:
    from mapreducewordoccurences_spark.plans.explain import formatted_plan, plan_audit

    out = {"plans.plan_s": 0.0, "plans.exchanges": 0, "plans.codegen_spans": 0,
           "plans.python_eval": 0}
    for df in dfs:
        with tracer.call("plans") as c:
            formatted_plan(df)
            audit = plan_audit(df)
        out["plans.plan_s"] += c["wall_s"]
        out["plans.exchanges"] += audit["exchanges"]
        out["plans.codegen_spans"] += audit["codegen_spans"]
        out["plans.python_eval"] += int(audit["python_eval"])
    return out


class WordCount:
    """The CLI query: file → sorted ``word=count`` lines on the driver."""

    def prepare(self, seed: int) -> dict:
        cache = os.path.join(WORK, "cache")

        def build(d):
            stats = gen.write_corpus(os.path.join(d, "corpus.txt"), seed, CORPUS_BYTES)
            stats.update(gen.expected_wordcount(os.path.join(d, "corpus.txt")))
            with open(os.path.join(d, "expected.json"), "w") as f:
                json.dump(stats, f)

        d = gen.cached(cache, f"corpus-{seed}-{CORPUS_BYTES}", build)
        os.utime(d)
        olds = sorted((e for e in os.listdir(cache) if e.startswith("corpus-") and ".tmp" not in e),
                      key=lambda e: os.path.getmtime(os.path.join(cache, e)))
        for e in olds[:-CORPUS_KEEP]:
            for f in os.listdir(os.path.join(cache, e)):
                os.remove(os.path.join(cache, e, f))
            os.rmdir(os.path.join(cache, e))
        self.path = os.path.join(d, "corpus.txt")
        with open(os.path.join(d, "expected.json")) as f:
            self.expected = json.load(f)
        with open(self.path, "rb") as f:  # page cache warm, as after a fresh write
            while f.read(1 << 24):
                pass
        return {"input_bytes": self.expected["bytes"], "corpus_tokens": self.expected["tokens"],
                "corpus_vocab": gen.CORPUS_VOCAB, "corpus_zipf_s": gen.CORPUS_ZIPF_S,
                "expected_sha1": self.expected["sha1"], "expected_lines": self.expected["lines"]}

    def run_pass(self, spark, tracer, collect=False) -> dict:
        from mapreducewordoccurences_spark.core import count_words_in_file, format_kv_lines

        with tracer.call("core.count_words_in_file"):
            h, n = hashlib.sha1(), 0
            for row in format_kv_lines(count_words_in_file(spark, self.path)).toLocalIterator():
                h.update(row["line"].encode())
                h.update(b"\n")
                n += 1
        self.lines = n
        return {"output": (h.hexdigest(), n)}

    def check(self, outputs) -> bool:
        want = (self.expected["sha1"], self.expected["lines"])
        return bool(outputs) and all(o == want for o in outputs)

    def layers(self, spark, tracer, traced_passes) -> dict:
        from mapreducewordoccurences_spark.core.wordcount import count_words, tokenize
        from mapreducewordoccurences_spark.sources.readers import read_text

        text = read_text(spark, self.path)
        calls = {
            "sources.read_text": lambda: _noop(read_text(spark, self.path)),
            "core.tokenize": lambda: _noop(tokenize(text, "value")),
            "core.count_words": lambda: _noop(count_words(text, "value", sort=False)),
            "core.count_words_sorted": lambda: _noop(count_words(text, "value", sort=True)),
        }
        recs: dict[str, list[dict]] = {k: [] for k in calls}
        for _ in range(3):
            for name, fn in calls.items():
                with tracer.call(name) as c:
                    fn()
                recs[name].append(c)
        with tracer.call("core.tokens"):
            tokens = tokenize(text, "value").count()
        last = {k: v[-1] for k, v in recs.items()}
        wall = {k: _median([r["wall_s"] for r in v]) for k, v in recs.items()}
        shuffled = last["core.count_words"]["shuffle_records"]
        out = {
            "sources.read_text_s": wall["sources.read_text"],
            "sources.read_text.tasks": last["sources.read_text"]["tasks"],
            "sources.read_text.input_bytes": last["sources.read_text"]["input_bytes"],
            "core.tokenize_s": wall["core.tokenize"],
            "core.tokens": tokens,
            "core.count_words_s": wall["core.count_words"],
            "core.count_words.cpu_s": _median([r["cpu_s"] for r in recs["core.count_words"]]),
            "core.count_words.shuffle_write_bytes": last["core.count_words"]["shuffle_write_bytes"],
            "core.count_words.shuffle_records": shuffled,
            "core.combine_ratio": tokens / shuffled if shuffled else 0.0,
            "core.distinct_words": self.lines,
            "core.count_words_sorted_s": wall["core.count_words_sorted"],
            "core.collect_s": _median([p["wall_s"] for p in traced_passes])
            - wall["core.count_words_sorted"],
        }
        from mapreducewordoccurences_spark.core import count_words_in_file, format_kv_lines

        out.update(_plan(spark, tracer, [format_kv_lines(count_words_in_file(spark, self.path))]))
        return out


class Catalog:
    """Catalog rows built and run to a noop sink, one after another."""

    def __init__(self, rows: dict[str, str], docs: int, events: int, embeddings: int):
        self.rows = rows
        self.sizes = (docs, events, embeddings)

    def prepare(self, seed: int) -> dict:
        key = "tables-{}-{}-{}-{}".format(seed, *self.sizes)
        self.dir = gen.cached(os.path.join(WORK, "cache"), key,
                              lambda d: gen.write_tables(d, seed, *self.sizes))
        names = ("documents", "events", "embeddings")
        return {f"{t}_rows": n for t, n in zip(names, self.sizes)} | {
            "input_bytes": sum(os.path.getsize(os.path.join(self.dir, f"{t}.parquet"))
                               for t in names)}

    def run_pass(self, spark, tracer, collect=False) -> dict:
        """Every row to a noop sink; with ``collect`` (the cold first pass,
        what a caller of the catalog pays) every row is collected to the
        driver instead and kept for the oracle check."""
        from mapreducewordoccurences_spark.queries import QUERIES

        if collect:
            got = {}
            for row in self.rows:
                got[row] = QUERIES[row](spark, self.dir).toPandas()
                spark.catalog.clearCache()
            return {"output": got}
        rows = {}
        for row, layer in self.rows.items():
            with tracer.call(f"{layer}.build") as b:
                df = QUERIES[row](spark, self.dir)
            with tracer.call(f"{layer}.exec") as e:
                _noop(df)
            spark.catalog.clearCache()
            rows[layer] = (b, e)
        return {"rows": rows}

    def check(self, outputs) -> bool:
        """Every collected row against its DuckDB oracle, by the oracle
        parity tests' rule: row count, column names, exact values."""
        import duckdb

        from mapreducewordoccurences_spark.queries import ORACLES
        from tests.test_oracle_parity import assert_frames_match

        con = duckdb.connect()
        try:
            for t in ("documents", "events", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            ok = bool(outputs)
            for got in outputs:
                for row, pdf in got.items():
                    try:
                        assert_frames_match(row, pdf, con.sql(ORACLES[row]).df())
                    except AssertionError as e:
                        print(f"perfbench: differs from its oracle: {e}", file=sys.stderr)
                        ok = False
            return ok
        finally:
            con.close()

    def layers(self, spark, tracer, traced_passes) -> dict:
        from mapreducewordoccurences_spark.queries import QUERIES

        out: dict = {}
        for layer in self.rows.values():
            recs = [p["rows"][layer] for p in traced_passes]
            b, e = recs[-1]
            out.update({
                f"{layer}.build_s": _median([r[0]["wall_s"] for r in recs]),
                f"{layer}.build_jobs": b["jobs"],
                f"{layer}.checkpoint_jobs": b["checkpoint_jobs"],
                f"{layer}.action_jobs": b["jobs"] - b["checkpoint_jobs"],
                f"{layer}.exec_s": _median([r[1]["wall_s"] for r in recs]),
                f"{layer}.exec_jobs": e["jobs"],
                f"{layer}.cpu_s": _median([r[0]["cpu_s"] + r[1]["cpu_s"] for r in recs]),
                f"{layer}.shuffle_write_bytes": b["shuffle_write_bytes"] + e["shuffle_write_bytes"],
            })
        out["queries.build_s"] = _median(
            [sum(r[0]["wall_s"] for r in p["rows"].values()) for p in traced_passes])
        out["queries.jobs"] = sum(r[0]["jobs"] + r[1]["jobs"]
                                  for r in traced_passes[-1]["rows"].values())
        if self.rows is MEDIA_ROWS:
            out["multimodal.worker_cpu_s"] = _median([p["worker_cpu_s"] for p in traced_passes])
            out["multimodal.worker_wait_s"] = _median(
                [sum(r[i]["exec_run_s"] - r[i]["exec_cpu_s"] for r in p["rows"].values()
                     for i in (0, 1)) for p in traced_passes])
        dfs = [QUERIES[row](spark, self.dir) for row in self.rows]
        out.update(_plan(spark, tracer, dfs))
        spark.catalog.clearCache()
        return out


WORKLOADS = {
    "wordcount": WordCount,
    "iterative": lambda: Catalog(ITERATIVE_ROWS, 500, 10_000, 500),
    "media": lambda: Catalog(MEDIA_ROWS, 500, 10, 10),
}


def _workers_cpu_s(spark) -> float:
    """CPU seconds of the Python workers under the JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return sum(v for pid, v in tr.tree(jvm).items() if pid != jvm)


def _scratch(pid: int) -> str:
    return os.path.join(WORK, "sessions", str(pid))


def session(args, stop: bool = True) -> dict:
    """One fresh SparkSession: set-up, the cold pass, warm-up passes, then
    passes until ``args.seconds`` are measured, then the output check.
    Returns its record. With ``args.setup_only`` it only sets up. Without
    ``stop`` the JVM is left running for the caller to end."""
    _prepare_env(_scratch(os.getpid()))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    spark, own = setup()
    if args.setup_only:
        if stop:
            shutdown(spark)
            shutil.rmtree(_scratch(os.getpid()), ignore_errors=True)
        return {"setup": {k: v for k, v in own.items() if k != "t"}}
    wl = WORKLOADS[args.workload]()
    wl.prepare(args.seed)
    rss = tr.PeakRss(os.getpid())
    tracer = tr.Tracer(spark, run_id, bool(args.trace))
    t0, t1, t2, t3 = own["t"]
    for name, a, b in (("session.import", t0, t1), ("session.start", t1, t2),
                       ("session.warmup", t2, t3)):
        tracer.span(name, a, b)
    versions = {"spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version")}

    off = tr.Tracer(spark, run_id, False)
    attempted = failed = 0
    outputs, probes, passes = [], [], []

    def one_pass(traced: bool, collect: bool = False) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        probes.append(tr.host_probe_ms())
        cpu0 = tr.tree_cpu_s(os.getpid())
        workers0 = _workers_cpu_s(spark) if traced else 0.0
        t = time.monotonic()
        try:
            with (tracer if traced else off).call("pass"):
                out = wl.run_pass(spark, tracer if traced else off, collect)
        except Exception:  # one failed operation; the closed loop goes on
            traceback.print_exc()
            failed += 1
            return None
        finally:
            wall = time.monotonic() - t
            probes.append(tr.host_probe_ms())
        rec = {"wall_s": wall, "cpu_s": tr.tree_cpu_s(os.getpid()) - cpu0, "traced": traced}
        if traced:
            rec["worker_cpu_s"] = _workers_cpu_s(spark) - workers0
        if "output" in out:
            outputs.append(out["output"])
        rec["rows"] = out.get("rows")
        return rec

    first = one_pass(False, collect=True)
    for _ in range(WARMUP_PASSES[args.workload]):
        one_pass(False)
    gc0 = tracer.rest.gc_s() if tracer.enabled else 0.0
    start = time.monotonic()
    while True:
        # traced runs alternate untraced and traced passes: the difference
        # of their medians is the tracing overhead
        traced = bool(args.trace) and len(passes) % 2 == 1
        rec = one_pass(traced)
        if rec is not None:
            passes.append(rec)
        n_plain = sum(not p["traced"] for p in passes)
        n_traced = len(passes) - n_plain
        enough = n_plain >= MIN_PASSES and (not args.trace or n_traced >= 1)
        if time.monotonic() - start >= args.seconds and (enough or attempted > 20):
            break
    peak_rss_mb = rss.stop()  # before the oracle check adds DuckDB to the tree

    plain = [p for p in passes if not p["traced"]]
    traced_passes = [p for p in passes if p["traced"]]
    layer: dict[str, float] = {}
    if args.trace:
        layer = {name: 0.0 for name, _ in PER_LAYER}
        layer.update({"session.import_s": own["import_s"], "session.start_s": own["start_s"],
                      "session.warmup_s": own["warmup_s"],
                      "session.gc_s": (tracer.rest.gc_s() - gc0) / max(1, len(passes)),
                      "host.probe_ms": _median(probes),
                      "trace.overhead_s": _median([p["wall_s"] for p in traced_passes])
                      - _median([p["wall_s"] for p in plain])})
        if traced_passes:
            layer.update(wl.layers(spark, tracer, traced_passes))
    if stop:
        shutdown(spark)
        shutil.rmtree(_scratch(os.getpid()), ignore_errors=True)
    correct = failed == 0 and first is not None and wl.check(outputs)
    tracer.write(os.path.join(WORK, "spans", f"{run_id}.jsonl"))
    return {"attempted": attempted, "failed": failed, "correct": correct,
            "setup": {k: v for k, v in own.items() if k != "t"},
            "first_pass_s": first["wall_s"] if first else None, "peak_rss_mb": peak_rss_mb,
            "passes": [{k: v for k, v in p.items() if k != "rows"} for p in passes],
            "host_probe_ms": [round(p, 3) for p in probes], "layer": layer, **versions}


def _spawn_session(args, seconds: float, setup_only: bool = False) -> dict:
    """Run ``session`` in a fresh process and return its record. The
    session exits without stopping Spark; its JVM and Python workers are
    killed here, which is faster than stopping them, and have ended, with
    the session's scratch files gone, on return."""
    argv = [sys.executable, os.path.abspath(__file__), "--session",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(argv + ["--setup-only"] * setup_only, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=SESSION_TIMEOUT_S)
    finally:
        tr.kill_descendants()
        proc.wait()
        shutil.rmtree(_scratch(proc.pid), ignore_errors=True)
    if proc.returncode != 0:
        raise RuntimeError(f"perfbench: session exited with code {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def run(args) -> int:
    spec = importlib.util.find_spec(PKG)
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()
    tr.become_subreaper()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    wl = WORKLOADS[args.workload]()
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": NPROC, "cores": CORES, "heap": HEAP, "loadavg_start": os.getloadavg()}
    context.update(wl.prepare(args.seed))

    # untraced runs split their --seconds over fresh sessions, so a JVM that
    # happens to run fast or slow throughout is one sample, not the run;
    # a traced run is one session
    n = 1 if args.trace else SESSIONS[args.workload]
    recs = [_spawn_session(args, args.seconds / n) for _ in range(n)]
    # set-up is sampled at least twice a run: a one-session workload adds a
    # session that only sets up
    setups = [r["setup"] for r in recs] + [
        _spawn_session(args, 0, setup_only=True)["setup"]
        for _ in range(0 if args.trace else SETUP_SAMPLES - n)]
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    correct = all(r["correct"] for r in recs)
    if not correct:
        failed = attempted

    if args.trace:
        units = dict(PER_LAYER)
        metrics = {k: {"value": recs[0]["layer"][k], "unit": units[k]} for k, _ in PER_LAYER}
    else:
        plain = [p for r in recs for p in r["passes"] if not p["traced"]]
        e2e = {
            "pass_s": _median([p["wall_s"] for p in plain]),
            "first_pass_s": _median([r["first_pass_s"] or 0.0 for r in recs]),
            "cpu_s": _median([p["cpu_s"] for p in plain]),
            "peak_rss_mb": _median([r["peak_rss_mb"] for r in recs]),
            "setup_s": _median([sum(s.values()) for s in setups]),
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    context.update(spark=recs[0]["spark"], java=recs[0]["java"], loadavg_end=os.getloadavg(),
                   warmup_passes=WARMUP_PASSES[args.workload],
                   sessions=[{k: v for k, v in r.items() if k != "layer"} for r in recs])
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics}, f)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--session", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.workload is None:
        ap.error("--workload is required")
    if args.session:
        print(json.dumps(session(args, stop=False)), flush=True)
        os._exit(0)  # no atexit stop of Spark: the parent kills what the session started
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
