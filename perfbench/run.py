"""Warehouse benchmark: one command, one workload per process.

    python3 perfbench/run.py --workload nightly|serve \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts its own Spark session
(local[nproc], the library's 8g heap), makes its inputs from the seed,
times the workload's operations for S seconds (at least one), checks
every output, and prints one JSON line last on stdout. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones. See perfbench/README.md for what each metric means and
which layer metric should move which end-to-end metric.

Everything the run writes stays under .bench_build/perfbench/ in the
checkout. The standing warehouse that `nightly` merges onto and `serve`
reads is built once per code version, in a child process, and reused.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nightly", "serve")
WARMUP_REQUESTS = 8  # sequential, from one client, like the timed loop
STAGES = ("dims", "pull", "guard", "coin_wallet_transfers", "coin_market_data",
          "coin_wallet_profits", "marks")
CORPUS_STAGES = ("raw", "quality_gate", "exact_dedup", "near_dup_canonical",
                 "boilerplate_removed", "sampled")
# "op" is the timed operation's own span: time outside every wrapped call
LAYERS = ("op", "refresh", "sources", "queries", "expectations", "operators", "reconcile",
          "streaming", "whale", "corpus", "llm")

sys.path.insert(0, ROOT)


def _history_dir() -> str:
    """The standing warehouse's cache directory, named after a hash of
    every source that shapes it: the engine package (code and configs),
    the generator and this builder. Each code version builds its own
    once."""
    h = hashlib.sha1()
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "run.py")]
    for d, subdirs, names in os.walk(os.path.join(ROOT, "etl_pipelines_spark")):
        subdirs[:] = sorted(x for x in subdirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return os.path.join(WORK, f"history-{h.hexdigest()[:12]}")


HISTORY = _history_dir()


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def _prepare_env(tmp: str) -> None:
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # the library's 8g default
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)


def start_spark(tmp: str):
    from etl_pipelines_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- history


def build_history() -> None:
    """Child-process entry: the raw history and the standing warehouse
    landed from it by the incremental driver's first run."""
    import gen

    tmp_root = f"{HISTORY}.tmp-{os.getpid()}"
    _prepare_env(os.path.join(tmp_root, "tmp"))
    gen.write_history(os.path.join(tmp_root, "raw"))
    spark = start_spark(os.path.join(tmp_root, "tmp"))
    try:
        from etl_pipelines_spark.plans.refresh import refresh_warehouse_incremental

        report = refresh_warehouse_incremental(
            spark,
            os.path.join(tmp_root, "raw"),
            os.path.join(tmp_root, "wh"),
            os.path.join(tmp_root, "state"),
        )
    finally:
        stop_spark(spark)
    if not report.passed:
        raise SystemExit("standing warehouse build failed its audits")
    shutil.rmtree(os.path.join(tmp_root, "tmp"), ignore_errors=True)
    os.rename(tmp_root, HISTORY)


def ensure_history() -> None:
    if os.path.isdir(HISTORY):
        return
    log("perfbench: building the standing warehouse (once per code version)")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-history"],
        check=True,
        cwd=ROOT,
    )


# ----------------------------------------------------------- workloads


class Run:
    """State of one benchmark run: timings, failures, traces."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.op_s: list[float] = []
        self.failed = 0
        self.problems: list[str] = []
        self.tracer = None
        self.counters = None
        self.spark_totals: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        log("perfbench: CHECK FAILED:", msg)

    def timed(self, fn, *a, **kw):
        """Run one operation and record its wall time; with tracing on,
        it is the root span and its Spark counters are collected."""
        if self.counters is not None:
            self.counters.mark()
        if self.tracer is not None:
            self.tracer.open_root("op")
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self.op_s.append(time.perf_counter() - t0)
            if self.tracer is not None:
                self.tracer.close_root()
            if self.counters is not None:
                for k, v in self.counters.delta().items():
                    self.spark_totals[k] = self.spark_totals.get(k, 0.0) + v

    def until_done(self, t_begin: float) -> bool:
        return bool(self.op_s) and time.perf_counter() - t_begin >= self.args.seconds


def nightly_setup(run: Run, spark) -> dict:
    import gen
    from etl_pipelines_spark.expectations import load_expectations

    import oracle

    raw = run.dir("raw")
    shutil.copytree(os.path.join(HISTORY, "raw"), raw)
    n_coins = gen.write_arrivals(raw, run.args.seed)
    corpus = gen.Corpus(run.args.seed)
    corpus.write(raw)
    return {
        "raw": raw,
        "n_coins": n_coins,
        "declared": oracle.declared_audits(load_expectations()),
        "corpus": corpus.expected(),
        "done": [],
    }


def _nightly_op(spark, raw: str, wh: str, state: str, out: str):
    """One nightly batch: merge the day's arrivals onto the standing
    warehouse, then prepare the training corpus."""
    from etl_pipelines_spark.plans import corpus, refresh

    report = refresh.refresh_warehouse_incremental(spark, raw, wh, state)
    return report, corpus.prepare_corpus(spark, raw, out)


def nightly_loop(run: Run, spark, ctx: dict) -> None:
    t_begin = time.perf_counter()
    while not run.until_done(t_begin):
        i = len(run.op_s)
        wh, state, out = run.dir(f"wh{i}"), run.dir(f"state{i}"), run.dir(f"corpus{i}")
        shutil.copytree(os.path.join(HISTORY, "wh"), wh)
        shutil.copytree(os.path.join(HISTORY, "state"), state)
        try:
            report, creport = run.timed(_nightly_op, spark, ctx["raw"], wh, state, out)
        except Exception as exc:  # an operation failure is counted, not fatal
            run.failed += 1
            run.problem(f"nightly batch {i} raised {exc!r}\n{traceback.format_exc()}")
            continue
        ctx["done"].append((wh, report, out, creport))
        log(f"perfbench: stage_sec={report.stage_sec} corpus={creport.stage_counts}")
        for st in STAGES:
            run.layer[f"refresh.stage.{st}_s"] = (
                run.layer.get(f"refresh.stage.{st}_s", 0.0) + report.stage_sec.get(st, 0.0)
            )
        for st in CORPUS_STAGES:
            run.layer[f"corpus.rows.{st}"] = (
                run.layer.get(f"corpus.rows.{st}", 0.0) + creport.stage_counts.get(st, 0)
            )


def _warehouse_problems(ctx: dict, report, got: dict, want: dict) -> list[str]:
    """The increment passed every audit and reconcile, touched exactly
    the coins that received arrivals, and its fact tables equal the
    DuckDB twins through the same day, digest for digest."""
    bad = []
    if not report.passed:
        bad.append("audits or reconcile failed")
    if len(report.expectations) < ctx["declared"]:
        bad.append(f"{len(report.expectations)} audit results < {ctx['declared']} declared")
    if report.affected_coins != ctx["n_coins"] or report.backdated_coins:
        bad.append(f"affected={report.affected_coins} want {ctx['n_coins']}, "
                   f"backdated={report.backdated_coins}")
    if got != want:
        bad.append(f"fact digests {got} != DuckDB {want}")
    return bad


def _corpus_problems(spark, exp: dict, out: str, report) -> list[str]:
    """Stage counts against what the generator planted. Near-dup recall
    depends on LSH, so that stage is checked against bounds that hold
    whatever pairs LSH finds; every other stage is exact."""
    c = report.stage_counts
    bad = []
    if not report.monotone:
        bad.append("stage counts not monotone")
    for st in ("raw", "quality_gate", "exact_dedup"):
        if c.get(st) != exp[st]:
            bad.append(f"{st}={c.get(st)} want {exp[st]}")
    if not exp["families"] <= c.get("near_dup_canonical", -1) <= exp["exact_dedup"]:
        bad.append(f"near_dup_canonical={c.get('near_dup_canonical')} outside "
                   f"[{exp['families']}, {exp['exact_dedup']}]")
    if c.get("boilerplate_removed") != c.get("near_dup_canonical", 0) - len(exp["boilerplate_only"]):
        bad.append(f"boilerplate_removed={c.get('boilerplate_removed')}")
    ids = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    allowed = exp["exact_ids"] - exp["boilerplate_only"]
    if not ids or not ids <= allowed or len(ids) != report.out_rows or c.get("sampled") != len(ids):
        bad.append(f"sampled output: {len(ids)} ids, {len(ids - allowed)} not allowed")
    return bad


def nightly_check(run: Run, spark, ctx: dict) -> None:
    import oracle

    want = oracle.fact_digests(ctx["raw"], run.work)
    for i, (wh, report, out, creport) in enumerate(ctx["done"]):
        got = oracle.landed_digests(wh, run.work)
        bad = _warehouse_problems(ctx, report, got, want)
        bad += ["corpus: " + p for p in _corpus_problems(spark, ctx["corpus"], out, creport)]
        if bad:
            run.failed += 1
            run.problem(f"nightly batch {i}: " + "; ".join(bad))


def serve_setup(run: Run, spark) -> dict:
    import gen

    cwt = os.path.join(HISTORY, "wh", "coin_wallet_transfers")
    stream = gen.request_stream(run.args.seed, 5000)
    warm = gen.request_stream(run.args.seed + 7919, WARMUP_REQUESTS)
    ctx = {"cwt": cwt, "stream": stream, "prices": gen.coin_list_prices(), "served": []}
    # Discarded warm-up requests. The first pays the cold JVM (about
    # 13 s); the next ones carry the steepest part of the JIT's descent,
    # where one request's latency differs most from its neighbours'.
    warm_s = []
    for req in warm:
        t0 = time.perf_counter()
        _whale_request(spark, ctx, *req)
        warm_s.append(time.perf_counter() - t0)
    log(f"perfbench: warm-up op_s={[round(s, 3) for s in warm_s]}")
    return ctx


def _thresholds(ctx: dict, coin: int, tokens: float) -> tuple[float, float]:
    """Shrimp and whale thresholds in tokens. No market cap is modelled,
    so the fully-diluted-value ceiling does not apply."""
    from etl_pipelines_spark.plans.whale_chart import derive_whale_thresholds

    return derive_whale_thresholds(
        ctx["prices"][coin], float("inf"), whale_threshold_tokens=tokens)


def _whale_request(spark, ctx: dict, coin: int, tokens: float) -> dict:
    from pyspark.sql import functions as F

    from etl_pipelines_spark.plans import whale_chart

    shrimp, whale = _thresholds(ctx, coin, tokens)
    transfers = (
        spark.read.parquet(ctx["cwt"])
        .filter(F.col("coin_id") == coin)
        .select("wallet_address", "date", "net_transfers")
    )
    counts = whale_chart.whale_counts(transfers, shrimp, whale)
    return whale_chart.whale_chart_spec(counts, title=f"coin {coin} wallet cohorts")


def serve_loop(run: Run, spark, ctx: dict) -> None:
    t_begin = time.perf_counter()
    for coin, tokens in ctx["stream"]:
        if run.until_done(t_begin):
            break
        try:
            spec = run.timed(_whale_request, spark, ctx, coin, tokens)
        except Exception as exc:  # an operation failure is counted, not fatal
            run.failed += 1
            run.problem(f"request coin={coin} raised {exc!r}\n{traceback.format_exc()}")
            continue
        ctx["served"].append((coin, tokens, spec))


def serve_check(run: Run, spark, ctx: dict) -> None:
    import oracle

    expected: dict = {}
    for coin, tokens, spec in ctx["served"]:
        if (coin, tokens) not in expected:
            shrimp, whale = _thresholds(ctx, coin, tokens)
            expected[coin, tokens] = oracle.whale_counts_twin(ctx["cwt"], coin, shrimp, whale, run.work)
        if oracle.spec_rows(spec) != expected[coin, tokens] or not expected[coin, tokens]:
            run.failed += 1
            run.problem(f"whale chart for coin {coin} differs from the DuckDB twin")


WORKLOAD_FNS = {
    "nightly": (nightly_setup, nightly_loop, nightly_check),
    "serve": (serve_setup, serve_loop, serve_check),
}


# ------------------------------------------------------------- metrics


def end_to_end(run: Run, setup_s: float) -> dict:
    return {
        "op_ms": {"value": statistics.median(run.op_s) * 1000.0, "unit": "ms"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(run: Run, session_s: float, rss_mb: float) -> dict:
    """Per-operation means of every layer metric; 0 for layers the
    workload does not reach."""
    tr = run.tracer
    n = max(len(run.op_s), 1)
    sp = run.spark_totals
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wall = sum(run.op_s)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "sources.write_s": (tr.busy_s("sources.write") / n, "s"),
        "sources.write_calls": (tr.calls("sources.write") / n, "count"),
        "sources.files_written": (tr.counts["files_written"] / n, "count"),
        "sources.mb_written": (tr.counts["bytes_written"] / 1e6 / n, "MB"),
        "sources.load_calls": (tr.calls("sources.load") / n, "count"),
        "queries.plan_s": (tr.busy_s("queries.") / n, "s"),
        "expectations.audit_s": (tr.busy_s("expectations.audit") / n, "s"),
        "expectations.audit_calls": (tr.calls("expectations.audit") / n, "count"),
        "expectations.rules_failed": (tr.counts["rules_failed"] / n, "count"),
        "operators.upsert_s": (tr.busy_s("operators.upsert") / n, "s"),
        "operators.upsert_calls": (tr.calls("operators.upsert") / n, "count"),
        "reconcile.validate_s": (tr.busy_s("reconcile.validate") / n, "s"),
        "streaming.watermark_s": (tr.busy_s("streaming.watermark") / n, "s"),
    }
    for st in STAGES:
        m[f"refresh.stage.{st}_s"] = (run.layer.get(f"refresh.stage.{st}_s", 0.0) / n, "s")
    m.update({
        "whale.plan_ms": (tr.busy_s("whale.plan") * 1000.0 / n, "ms"),
        "whale.exec_ms": (tr.busy_s("whale.exec") * 1000.0 / n, "ms"),
        "whale.input_mb": (sp.get("input_bytes", 0.0) / 1e6 / n if tr.calls("whale.") else 0.0, "MB"),
        "whale.tasks": (sp.get("tasks", 0.0) / n if tr.calls("whale.") else 0.0, "count"),
        "corpus.near_dup_s": (tr.busy_s("corpus.near_dup") / n, "s"),
        "llm.cluster_labels_s": (tr.busy_s("llm.cluster_labels") / n, "s"),
    })
    for st in CORPUS_STAGES:
        m[f"corpus.rows.{st}"] = (run.layer.get(f"corpus.rows.{st}", 0.0) / n, "count")
    m.update({
        "spark.jobs": (sp.get("jobs", 0.0) / n, "count"),
        "spark.tasks": (sp.get("tasks", 0.0) / n, "count"),
        "spark.tasks_failed": (sp.get("tasks_failed", 0.0) / n, "count"),
        "spark.input_mb": (sp.get("input_bytes", 0.0) / 1e6 / n, "MB"),
        "spark.shuffle_write_mb": (sp.get("shuffle_write_bytes", 0.0) / 1e6 / n, "MB"),
        "spark.spill_mb": (sp.get("spill_bytes", 0.0) / 1e6 / n, "MB"),
        "spark.executor_run_s": (sp.get("executor_run_ms", 0.0) / 1000.0 / n, "s"),
        "spark.gc_s": (sp.get("gc_ms", 0.0) / 1000.0 / n, "s"),
        "spark.cpu_busy_frac": (
            sp.get("executor_run_ms", 0.0) / 1000.0 / (wall * cores) if wall else 0.0, "ratio"),
    })
    self_s = tr.self_s_by_layer()
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (self_s.get(layer, 0.0) / n, "s")
    m["memory.peak_rss_mb"] = (rss_mb, "MB")
    m["trace.op_ms"] = (statistics.median(run.op_s) * 1000.0, "ms")
    m["trace.bookkeeping_ms"] = (tr.counts["bookkeeping_s"] * 1000.0 / n, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ---------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-history", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    import importlib.util

    spec = importlib.util.find_spec("etl_pipelines_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        log("perfbench: the etl_pipelines_spark package is not in this checkout")
        return 2
    if args.build_history:
        build_history()
        return 0
    if args.workload is None:
        p.error("--workload is required")

    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    _prepare_env(tmp)
    setup_fn, loop_fn, check_fn = WORKLOAD_FNS[args.workload]
    run = Run(args, work)
    spark = None
    try:
        ensure_history()
        if args.trace:
            import tracing

            run.tracer = tracing.Tracer()
            tracing.install(run.tracer)
        t_session = time.perf_counter()
        spark = start_spark(tmp)
        session_s = time.perf_counter() - t_session
        if args.trace:
            run.counters = tracing.SparkCounters(spark)
        ctx = setup_fn(run, spark)
        setup_s = time.perf_counter() - T_START
        loop_fn(run, spark, ctx)
        if args.trace:  # before the JVM exits and takes its VmHWM along
            rss_mb = tracing.tree_peak_rss_mb()
        t_check = time.perf_counter()
        check_fn(run, spark, ctx)
        log(f"perfbench: check_s={time.perf_counter() - t_check:.2f}")
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        if run.tracer is not None:
            run.tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
        log(f"perfbench: teardown_s={time.perf_counter() - t_stop:.2f}")

    if not run.op_s:
        log("perfbench: no operation completed")
        return 1
    metrics = per_layer(run, session_s, rss_mb) if args.trace else end_to_end(run, setup_s)
    log(f"perfbench: {args.workload} seed={args.seed} ops={len(run.op_s)} "
        f"op_s={[round(s, 3) for s in run.op_s]} setup_s={setup_s:.2f} failed={run.failed}")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": len(run.op_s),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
