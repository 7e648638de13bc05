"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload poll_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is the JSON result;
the lines before it print every metric with its unit and sample count.
See perfbench/README.md for the workloads, metrics and protocol.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
WARMUP_ROUNDS = {"poll_etl": 3, "query_mix": 1, "llm_ops": 1}
DEADLINE_S = 150.0  # stop measuring early rather than overrun 180 s
# Streaming progress reaches Python asynchronously: the traced run waits
# until no new report has arrived for DRAIN_QUIET_S (at most DRAIN_LIMIT_S).
DRAIN_QUIET_S = 0.5
DRAIN_LIMIT_S = 10.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("poll_etl", "query_mix", "llm_ops"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Everything the numbers depend on, fixed before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # glibc's per-thread malloc arenas make native RSS depend on thread
        # scheduling; two arenas keep the JVM's off-heap footprint steady.
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key])
    os.environ.update(env)
    return env


def session_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "tmp"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }


class Client:
    """The closed loop: runs rounds of ops, checks each output, keeps the
    timing of every op. Only ``run`` is timed; staging and checking are not."""

    def __init__(self, wl, log):
        self.wl = wl
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.op_id = 0

    def round(self, tracer=None) -> tuple[float, dict[str, float]]:
        walls: dict[str, float] = {}
        for op in self.wl.round_ops():
            self.wl.before(op)
            self.op_id += 1
            self.attempted += 1
            problems = None
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    result = self.wl.run(op)
                else:
                    with tracer.span(self.wl.root_span(op), self.op_id):
                        result = self.wl.run(op, tracer, self.op_id)
            except Exception:  # an op that raises is a failed op; the loop goes on
                problems = [traceback.format_exc(limit=3)]
            walls[op] = time.perf_counter() - t0
            if tracer is not None and problems is None:
                self.wl.count_layers()
            if problems is None:
                problems = self.wl.check(op, result)
            if problems:
                self.failed += 1
                self.log(f"FAILED op {self.op_id} ({op}): " + "; ".join(problems)[:2000])
        return sum(walls.values()), walls

    def measure(self, seconds: float, tracer=None) -> list[tuple[float, dict[str, float]]]:
        """Whole rounds until the op clock reaches ``seconds`` (at least one)."""
        rounds, clock = [], 0.0
        while not rounds or (clock < seconds and time.perf_counter() - T_START < DEADLINE_S):
            rounds.append(self.round(tracer))
            clock += rounds[-1][0]
        return rounds


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(rounds, setup_s: float, peak_rss_mb: float) -> dict:
    walls = [w for w, _ in rounds]
    n_ops = sum(len(ops) for _, ops in rounds)
    return {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(n_ops / sum(walls), "1/s"),
        "round_p50_s": metric(statistics.median(walls), "s"),
        "peak_rss_mb": metric(peak_rss_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "transilien_api_etl_spark")):
        print(f"perfbench: no transilien_api_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    env = pin_environment(run_dir)
    sys.path[:0] = [ROOT, HERE]
    import procs
    import workloads

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    cpus = int(env["SPARK_GRAFT_CPUS"])
    wl = workloads.make(args.workload, run_dir, args.seed, cpus)
    wl.generate()
    t_ref = time.perf_counter()
    wl.reference()
    reference_s = time.perf_counter() - t_ref
    log(f"reference outputs in {reference_s:.2f} s (outside setup_s)")

    conf = session_conf(run_dir)
    if args.trace:
        import spans as sp

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(sp.event_log_conf(log_dir))
    from transilien_api_etl_spark.session import build_session

    spark = build_session(extra_conf=conf)
    rss = procs.RssSampler(os.getpid())
    try:
        if args.trace:
            listener = sp.ProgressListener()
            spark.streams.addListener(listener)
        wl.prepare(spark)
        client = Client(wl, log)
        warmup = [client.round() for _ in range(WARMUP_ROUNDS[args.workload])]
        setup_s = time.perf_counter() - T_START - reference_s

        rss.start()
        seconds = args.seconds / 2 if args.trace else args.seconds
        rounds = client.measure(seconds)
        peak_rss_mb = rss.stop()
        if args.trace:
            gc0 = sp.jvm_gc_seconds(spark)
            tracer = sp.Tracer(spark.sparkContext)
            traced = client.measure(seconds, tracer)
            gc_s = sp.jvm_gc_seconds(spark) - gc0
            _drain(listener)
    finally:
        procs.stop_spark(spark)
    if args.trace:
        import layers

        per_span = sp.attribute(tracer.spans, *sp.reduce_event_log(log_dir))
        result, unattributed = layers.per_layer(
            wl, rounds, traced, tracer, per_span, listener.progress, gc_s
        )
        out = os.path.join(HERE, "out", f"spans_{args.workload}_seed{args.seed}.json")
        layers.write_spans(out, tracer, per_span)
        log(f"spans written to {os.path.relpath(out, ROOT)}")
        spans_ok = unattributed <= layers.SPAN_TOLERANCE
        if not spans_ok:
            log(f"FAILED span coverage: {unattributed:.1%} of an op is outside its layer spans")
    e2e = end_to_end(rounds, setup_s, peak_rss_mb)
    if args.trace:
        _summary(args, env, warmup, rounds, e2e, client, traced, result)
        print(
            f"span coverage: {unattributed:.2%} of an op unattributed "
            f"(tolerance {layers.SPAN_TOLERANCE:.0%}): {'ok' if spans_ok else 'EXCEEDED'}",
            flush=True,
        )
    else:
        result = e2e
        spans_ok = True
        _summary(args, env, warmup, rounds, e2e, client)
    print(
        json.dumps(
            {
                # A traced run whose spans miss the tolerance is not correct:
                # its per-layer times do not add up to the op.
                "correct": client.failed == 0 and spans_ok,
                "attempted": client.attempted,
                "failed": client.failed,
                "metrics": result,
            }
        )
    )
    return 0


def _drain(listener) -> None:
    t_end = time.perf_counter() + DRAIN_LIMIT_S
    seen = -1
    while len(listener.progress) != seen and time.perf_counter() < t_end:
        seen = len(listener.progress)
        time.sleep(DRAIN_QUIET_S)


def _summary(args, env, warmup, rounds, e2e, client, traced=None, per_layer=None) -> None:
    walls = [w for w, _ in rounds]
    half = len(walls) // 2
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
        "env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())),
        f"warm-up rounds: {[round(w, 3) for w, _ in warmup]}",
        f"measured rounds (n={len(walls)}): {[round(w, 3) for w in walls]}",
    ]
    if half:
        lines.append(
            f"round median first half {statistics.median(walls[:half]):.3f} s "
            f"(n={half}), second half {statistics.median(walls[half:]):.3f} s (n={len(walls) - half})"
        )
    samples = {"round_p50_s": len(walls), "ops_per_s": sum(len(o) for _, o in rounds)}
    for name, m in e2e.items():
        lines.append(f"{name:42s} {m['value']:.6g} {m['unit']} (n={samples.get(name, 1)})")
    lines.append(
        f"{'failed_frac':42s} {client.failed / client.attempted:.6g} ratio "
        f"(n={client.attempted} ops, {client.failed} failed)"
    )
    flips = getattr(client.wl, "rounding_flips", 0)
    if flips:
        lines.append(
            f"ops matching their oracle only within the last rounded digit: {flips} float cells "
            "(half-unit sums rounded on opposite sides; see perfbench/README.md)"
        )
    if traced:
        lines.append(f"traced rounds (n={len(traced)}): {[round(w, 3) for w, _ in traced]}")
        for name, m in per_layer.items():
            lines.append(f"{name:42s} {m['value']:.6g} {m['unit']} (n={len(traced)} rounds)")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    sys.exit(main())
