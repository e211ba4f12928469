"""Embedding-pipeline benchmark: drives ``EmbeddingEngine`` through four
seeded workloads on ``local[nproc]`` from one process and one client
thread, checks every output, and prints the metrics.

    python3 perfbench/run.py --workload corpus_embed --seed 1 --seconds 13 --trace 0
    python3 perfbench/run.py --workload all          # each workload in a fresh process

Workloads (``layers.WORKLOADS`` says why each was chosen): ``corpus_embed``,
``recrawl_delta``, ``request_batches``, ``search_queries``; BENCHMARK.json
lists all but ``recrawl_delta`` (``layers.LISTED`` says why).

A run: build the session, generate and stage the inputs (several times;
the median counts), derive the engine-made inputs, warm up, then repeat
the workload's operation for ``--seconds`` and check every output against
single-process references.  ``--trace 0`` reports the end-to-end metrics
(``layers.END_TO_END``); ``--trace 1`` traces every other operation, runs
the per-layer probes, reports ``layers.PER_LAYER`` plus
the tracing overhead, and writes the spans to ``.bench_out/``.  The last
line of standard output is one JSON object; the exit code is non-zero when
any correctness check fails.  The benchmark's own tests:
``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
WORKLOAD_NAMES = ("corpus_embed", "recrawl_delta", "request_batches", "search_queries")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = tmp


def _build_session(work: str, cores: int):
    from inception_spark.session import build_session

    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a fixed, pre-touched heap: the JVM's resident set then does
            # not depend on when its collector happens to run
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                "-Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from perfbench.trace import alive, proc_tree

    started = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers, the JVM's children, follow it; kill any that lag
    for sig in (None, signal.SIGKILL):
        for pid in [p for p in started if alive(p)] if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 20
        while any(alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.2)


def _timed_phase(wl, ctx, seconds: float, trace: bool):
    """Repeat the workload's operation until ``seconds`` have passed.  With
    ``trace``, every other operation is traced (spans on, its Spark jobs in
    the ``timed`` group), so traced and untraced operations share the same
    stretch of time and their latencies give the tracing overhead."""
    from perfbench.trace import job_group
    from perfbench.workloads import Op

    sc = ctx.spark.sparkContext
    ops = []
    start = time.perf_counter()
    while True:
        i = len(ops)
        traced = trace and i % 2 == 1
        ctx.tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            with job_group(sc, "timed") if traced else contextlib.nullcontext():
                with ctx.tracer.span("op", request=f"{wl.name}-{i}"):
                    op = wl.op(i, traced)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted
            op = Op(0.0, 0, None, error=f"{type(e).__name__}: {e}")
        op.seconds = time.perf_counter() - t0
        op.traced = traced
        ops.append(op)
        if time.perf_counter() - start >= seconds:
            break
    ctx.tracer.enabled = trace
    return ops, time.perf_counter() - start


def _latency_ms(ops) -> list[float]:
    """Per-operation latency; a failed operation misses every limit."""
    out = []
    for op in ops:
        if op.error is not None:
            out.append(float("inf"))
        elif isinstance(op.result, tuple) and op.result[0] == "rejected":
            continue  # expected rejections are counted and checked apart
        else:
            out.append(op.seconds * 1e3)
    return out


def _median_span(tracer, name: str) -> float:
    d = tracer.durations(name)
    return statistics.median(d) if d else 0.0


def run_one(args) -> int:
    from perfbench import gen
    from perfbench.layers import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer, peak_rss, spark_job_stats
    from perfbench.workloads import WORKLOADS, Ctx

    cores = _cores()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _isolate(work)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("setup.session"):
            spark = _build_session(work, cores)
        session_s = time.perf_counter() - t0
        from inception_spark import EmbeddingEngine

        ctx = Ctx(
            spark=spark,
            engine=EmbeddingEngine(spark),
            tracer=tracer,
            work=work,
            seed=args.seed,
            scale=gen.Scale.for_cores(cores),
            cores=cores,
        )
        wl = WORKLOADS[args.workload](ctx)
        _print_env(spark, cores, args)
        prepare = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.generate"):
                wl.generate()
            with tracer.span("setup.stage"):
                wl.stage()
            prepare.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("setup.derive"):
            wl.derive()
        derive_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("setup.warm_up"):
            wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prepare) + derive_s + warm_s
        print(
            f"setup: session {session_s:.3f} s, generate+stage median "
            f"{statistics.median(prepare):.3f} s of {SETUP_REPEATS}, "
            f"derive {derive_s:.3f} s, warm-up {warm_s:.3f} s"
        )

        ops, elapsed = _timed_phase(wl, ctx, args.seconds, trace=bool(args.trace))
        rss_by_name = peak_rss()
        rss = sum(sum(v) for v in rss_by_name.values())
        print(
            "peak rss: "
            + ", ".join(
                f"{name} x{len(v)} {sum(v):.0f} MB" for name, v in sorted(rss_by_name.items())
            )
        )
        lat = _latency_ms(ops)
        layers = {}
        if args.trace:
            traced = [op for op in ops if op.traced]
            # the first operation runs slowest of all, so it joins neither side
            untraced = [op for op in ops[1:] if not op.traced]
            lat = _latency_ms(untraced)
            stats = spark_job_stats(spark.sparkContext, "timed")
            layers = _trace_layers(wl, tracer, stats, traced, session_s)
            layers["trace.overhead_pct"] = (_p50(_latency_ms(traced)) / _p50(lat) - 1) * 100
            with tracer.span("probe"):
                layers.update(wl.probe(len(ops)))

        t = time.perf_counter()
        checked = wl.check(ops)
        print(f"check: {time.perf_counter() - t:.3f} s")
        attempted = len(ops) * checked.attempted_unit
        failed = checked.failed_ops
        checked.errors += _check_pin(wl, args, cores)
        correct = not checked.errors
        for e in checked.errors[:20]:
            print(f"CHECK FAILED: {e}")

        mb = sum(op.nbytes for op in ops) / 1e6
        e2e = {"latency_p50_ms": _p50(lat), "peak_rss_mb": rss, "setup_s": setup_s}
        print(
            f"workload {args.workload}: {len(ops)} timed operations in "
            f"{elapsed:.3f} s, input {wl.input_desc()}"
        )
        print(
            f"  text_mb_per_s = {mb / elapsed:.6g} MB/s ({mb:.3f} MB)  "
            f"latency_p90_ms = {_quantile(lat, 0.9):.6g} ms "
            f"(from {len(lat)} samples: {' '.join(f'{x:.0f}' for x in lat)})"
        )
        print(
            f"operations: attempted {attempted}, succeeded "
            f"{attempted - failed - checked.rejected}, failed {failed}, "
            f"expected-rejected {checked.rejected} "
            f"(failed_frac {failed / max(1, attempted):.6f})"
        )
        if args.trace:
            for m in PER_LAYER:
                layers.setdefault(m.name, 0)
            tracer.write(
                os.path.join(
                    ROOT, ".bench_out", f"trace-{args.workload}-seed{args.seed}.jsonl"
                )
            )
            metrics = {m.name: {"value": layers[m.name], "unit": m.unit} for m in PER_LAYER}
        else:
            metrics = {m.name: {"value": e2e[m.name], "unit": m.unit} for m in END_TO_END}
        for name, v in metrics.items():
            print(f"  {name} = {v['value']:.6g} {v['unit']}")
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            t = time.perf_counter()
            _stop_session(spark)
            print(f"teardown: {time.perf_counter() - t:.3f} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def _p50(values) -> float:
    return statistics.median(values) if values else float("inf")


def _quantile(values, q: float) -> float:
    """Nearest-rank quantile (a p90 of fewer than ten samples is their max)."""
    if not values:
        return float("inf")
    ranked = sorted(values)
    return ranked[min(len(ranked) - 1, max(0, math.ceil(q * len(ranked)) - 1))]


def _trace_layers(wl, tracer, stats, traced_ops, session_s) -> dict:
    """Per-layer figures of the traced operations: medians of their spans
    and Spark's accounting for their jobs."""
    n = max(1, len(traced_ops))
    layers = {
        "session.build_s": session_s,
        "engine.embed_documents.plan_s": _median_span(
            tracer, "engine.embed_documents.plan"
        ),
        "engine.action_s": _median_span(tracer, "engine.action"),
        "engine.jobs_per_request": stats["jobs"] / n,
        "engine.embed_query.busy_s": tracer.total("engine.embed_query"),
        "similarity.semantic_search.plan_s": _median_span(
            tracer, "similarity.semantic_search.plan"
        ),
        "similarity.semantic_search.exec_s": _median_span(
            tracer, "similarity.semantic_search.exec"
        ),
        "spark.jobs": stats["jobs"],
        "spark.tasks": stats["tasks"],
        "spark.executor_run_s": stats["executor_run_s"],
        "spark.executor_cpu_s": stats["executor_cpu_s"],
        "spark.gc_s": stats["gc_s"],
        "spark.shuffle_write_bytes": stats["shuffle_write_bytes"],
    }
    if tracer.durations("similarity.semantic_search.exec"):
        layers["similarity.rows_scanned"] = stats["input_records"] / n
    return layers


def _check_pin(wl, args, cores: int) -> list[str]:
    """Compare the reference chunk table's digest with the one pinned for
    this seed and input size (the size follows the core count), when there
    is one: the per-seed checks compare the engine with its own pure-Python
    chunker, and the pin catches a change of that chunker's output."""
    digest = getattr(wl, "digest", None)
    if digest is None:
        return []
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as fh:
        pins = json.load(fh)
    key = f"{args.workload}:seed={args.seed}:cores={cores}"
    if key not in pins:
        print(f"pin: none for {key}; digest {digest}")
        return []
    if pins[key] != digest:
        return [f"chunk digest {digest} != pinned {pins[key]} for {key}"]
    print(f"pin: {key} matches")
    return []


def _print_env(spark, cores: int, args) -> None:
    import numpy
    import pyarrow

    print(
        f"env: nproc {cores}, master local[{cores}], spark {spark.version}, "
        f"pyarrow {pyarrow.__version__}, numpy {numpy.__version__}, "
        f"python {sys.version.split()[0]}, seed {args.seed}, "
        f"seconds {args.seconds}, trace {args.trace}"
    )


def run_all(args) -> int:
    """Each workload in a fresh process, so no JIT or cache state leaks."""
    worst = 0
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        print(f"== {name}", flush=True)
        rc = subprocess.run(cmd, check=False).returncode
        worst = worst or rc
    return worst


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # turn a termination request into SystemExit, so Spark is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "inception_spark", "__init__.py")):
        print(
            f"perfbench: the inception_spark package is not under {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
