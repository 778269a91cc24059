"""spark-graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload hourly --seed 1 --smoke --trace 1
    python3 perfbench/run.py --regen-expected
    python3 perfbench/run.py --compare A.json B.json

Run from the repository root. A run pins the environment (Spark uses
every visible core, the repository root is on ``PYTHONPATH`` for Python
workers, all scratch space lives under ``.perfbench/`` in the root),
builds the seeded inputs, starts one Spark session, warms it up and then
measures the workload for ``--seconds``, checking every output. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` the engine's public functions are wrapped in spans for the
run and the last line holds the per-layer metrics. Each run also writes
its full record (environment, samples, spans) to ``.perfbench/runs/``.

``--smoke`` runs each workload once at sf0.001 without warm-up, for the
benchmark's own tests. ``--regen-expected`` recomputes ``expected.json``
from the DuckDB oracles. ``--compare`` prints two run records side by
side and refuses records taken with a different number of cpus.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
EXPECTED = HERE / "expected.json"
ENGINE = "sandbox_data_pipeline_spark"

HARD_STOP_S = 140  # start no op after this; the run must end within 180 s
WATCHDOG_S = 170

END_TO_END = {"setup_s": "s", "mix_cpu_s": "s", "mix_alloc_mb": "MB"}
PER_LAYER = {
    "mix_s": "s",
    "peak_rss_mb": "MB",
    "jvm.jit_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.build_s": "s",
    "catalog.read_s": "s",
    "queries.build_jobs": "count",
    "queries.build_cpu_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB",
    "txlog.write_s": "s",
    "txlog.read_s": "s",
    "txlog.write_calls": "count",
    "sinks.land_s": "s",
    "sinks.barrier_s": "s",
    "operators.dq_s": "s",
    "sinks.publish_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "sinks.skipped_writes": "count",
    "sinks.files_written": "count",
    "stream.start_s": "s",
    "stream.offsets_s": "s",
    "stream.plan_s": "s",
    "stream.add_batch_s": "s",
    "stream.batch_s": "s",
    "stream.state_rows": "count",
    "stream.input_rows": "count",
    "hour_p50_s": "s",
    "rerun_p50_s": "s",
    "trigger_p50_s": "s",
    "ops_failed_ratio": "ratio",
}
# Per-layer metrics that take the maximum over ops; the rest sum, over
# the workload's op kinds, each kind's median per op (the rule mix_s uses).
PEAK_LAYERS = {"exec.peak_mem_mb", "stream.state_rows"}
TXLOG_READS = {
    "read",
    "snapshot",
    "schema_at",
    "history",
    "latest_version",
    "version_at_timestamp",
    "column_mapping_at",
    "partition_spec_at",
    "constraints_at",
}

sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from spans import Rebinder, Tracer  # noqa: E402
from workloads import (  # noqa: E402
    FLAGSHIP_SQL,
    MIX_SF,
    MIXES,
    WARM_SF,
    Run,
    median,
    rows_hash,
    run_hourly,
    run_mix,
)


class Overtime(BaseException):
    """Raised by the watchdog; not an Exception, so no op handler
    swallows it and the run ends without a result line."""


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("relational", "curation", "hourly"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--regen-expected", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args(argv)
    if not (args.workload or args.regen_expected or args.compare):
        ap.error("one of --workload, --regen-expected, --compare is required")
    return args


def require_engine() -> None:
    """Refuse to run without the program under test next to us."""
    missing = [p for p in (ENGINE, "tools/_normalize.py") if not (ROOT / p).exists()]
    if missing:
        raise SystemExit(f"perfbench: {', '.join(missing)} not found under {ROOT}; run from a repository checkout")


def pin_environment(work: Path) -> int:
    """Every visible core, the repository on every Python worker's
    path, and all scratch space inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return cpus


def instrument(tracer):
    """Bind span wrappers in place of the engine's public functions for
    this run; returns the Rebinder that restores them."""
    from sandbox_data_pipeline_spark import catalog
    from sandbox_data_pipeline_spark.plans import pipeline
    from sandbox_data_pipeline_spark.sinks import txlog, writers

    rb = Rebinder()
    rb.everywhere(catalog.table, tracer.wrap("catalog.table", catalog.table))
    rb.methods(txlog.TxTable, tracer, lambda m: f"txlog.{'read' if m in TXLOG_READS else 'write'}.{m}")
    rb.everywhere(txlog.optimize, tracer.wrap("txlog.write.optimize", txlog.optimize))

    publish = writers.publish_run

    def publish_run(df, base_path, run_hr, skip_if_exists=False, fmt="parquet", observe=False):
        with tracer.span("sinks.land" if skip_if_exists else "sinks.publish"):
            try:
                out = publish(df, base_path, run_hr, skip_if_exists, fmt, observe)
            except writers.SkippedWrite:
                tracer.count("sinks.skipped_writes")
                raise
        part = Path(base_path) / f"{writers.RUN_HR_COL}={run_hr}"
        tracer.count("sinks.files_written", sum(1 for f in part.iterdir() if f.name[0] not in "._"))
        return out

    rb.set(pipeline, "publish_run", publish_run)
    rb.set(writers, "partition_exists", tracer.wrap("sinks.barrier", writers.partition_exists))
    rb.set(pipeline, "run_checks", tracer.wrap("operators.dq", pipeline.run_checks))
    return rb


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        kids += [int(k) for k in task.read_text().split()]
    return kids


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until the JVM and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = _children(proc.pid)
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in kids:
        for _ in range(100):
            if not Path(f"/proc/{pid}").exists():
                break
            time.sleep(0.1)
        else:
            os.kill(pid, signal.SIGKILL)


def source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / ENGINE).rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or None


# ---------------------------------------------------------------- metrics


def _kinds(workload: str) -> list[str]:
    return MIXES.get(workload, ["hour", "rerun", "trigger"])


def mix(run, workload: str, key: str) -> float:
    """The sum over the workload's op kinds of each kind's median op
    wall time (``key="s"``, mix_s), CPU time (``"cpu"``, mix_cpu_s) or
    JVM heap allocation (``"alloc_mb"``, mix_alloc_mb)."""
    return sum(median([s[key] for s in run.samples[k]]) for k in _kinds(workload))


def incomplete(run) -> dict[str, int]:
    """Op kinds with fewer measured samples than the workload's fixed
    shape needs, mapped to the number needed."""
    return {k: n for k, n in run.required.items() if len(run.samples.get(k, [])) < n}


def end_to_end(run, workload: str, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "mix_cpu_s": mix(run, workload, "cpu"), "mix_alloc_mb": mix(run, workload, "alloc_mb")}


def _op_layers(sample: dict, spans: dict, counts: dict) -> dict[str, float]:
    """One measured op's per-layer numbers."""

    def self_s(name: str) -> float:
        return spans.get(name, (0.0, 0))[0]

    def prefixed(prefix: str, i: int) -> float:
        return sum(v[i] for n, v in spans.items() if n.startswith(prefix))

    b, e = sample.get("build", {}), sample.get("exec", {})
    st = sample.get("stream", {})
    out = {
        "queries.build_s": self_s("queries.build"),
        "catalog.read_s": self_s("catalog.table"),
        "queries.build_jobs": b.get("jobs", 0),
        "queries.build_cpu_s": b.get("cpu_s", 0.0),
        "exec.s": self_s("exec"),
        "exec.jobs": e.get("jobs", 0),
        "exec.tasks": e.get("tasks", 0),
        "exec.cpu_s": e.get("cpu_s", 0.0),
        "exec.offcpu_s": e.get("run_s", 0.0) - e.get("cpu_s", 0.0),
        "exec.gc_s": e.get("gc_s", 0.0),
        "exec.shuffle_write_mb": e.get("shuffle_write_mb", 0.0),
        "exec.spill_mb": e.get("spill_mb", 0.0),
        "exec.peak_mem_mb": e.get("peak_mem_mb", 0.0),
        "jvm.jit_s": sample.get("jit_s", 0.0),
        "txlog.write_s": prefixed("txlog.write.", 0),
        "txlog.read_s": prefixed("txlog.read.", 0),
        "txlog.write_calls": prefixed("txlog.write.", 1),
        "sinks.land_s": self_s("sinks.land"),
        "sinks.barrier_s": self_s("sinks.barrier"),
        "operators.dq_s": self_s("operators.dq"),
        "sinks.publish_s": self_s("sinks.publish"),
        "pipeline.self_s": self_s("op.pipeline"),
        "pipeline.jobs": sample.get("pipeline", {}).get("jobs", 0),
        "sinks.skipped_writes": counts.get("sinks.skipped_writes", 0),
        "sinks.files_written": counts.get("sinks.files_written", 0),
    }
    for k in ("start_s", "offsets_s", "plan_s", "add_batch_s", "batch_s", "state_rows", "input_rows"):
        out[f"stream.{k}"] = st.get(k, 0)
    return out


def per_layer(run, workload: str, rss_mb: float) -> dict[str, float]:
    by_op = run.tracer.by_op()
    out = {f"{s[0]}_s": s[2] - s[1] for s in run.tracer.spans if s[0] in ("session.start", "session.warm")}
    per_kind = {
        k: [_op_layers(s, by_op.get(s["op"], {}), run.tracer.counts.get(s["op"], {})) for s in run.samples[k]]
        for k in _kinds(workload)
    }
    for name in _op_layers({}, {}, {}):
        vals = [[v[name] for v in vs] for vs in per_kind.values() if vs]
        if name in PEAK_LAYERS:
            out[name] = max((max(v) for v in vals), default=0)
        else:
            out[name] = sum(median(v) for v in vals)
    out["mix_s"] = mix(run, workload, "s")
    for k in ("hour", "rerun", "trigger"):
        out[f"{k}_p50_s"] = median([s["s"] for s in run.samples.get(k, [])])
    out["ops_failed_ratio"] = run.failed / max(run.attempted, 1)
    out["peak_rss_mb"] = rss_mb
    return {n: out.get(n, 0) for n in PER_LAYER}


def latency_lines(run, workload: str) -> list[str]:
    """Median per op kind with its sample count, plus any tail percentile
    with at least ten samples beyond it."""
    import statistics

    lines = []
    for k in _kinds(workload):
        xs = sorted(s["s"] for s in run.samples[k])
        if not xs:
            lines.append(f"{k}: no samples")
            continue
        line = f"{k}: p50 {statistics.median(xs):.4f} s (n={len(xs)})"
        for q in (0.9, 0.99):
            if len(xs) * (1 - q) >= 10:
                line += f", p{round(q * 100)} {statistics.quantiles(xs, n=100)[round(q * 100) - 1]:.4f} s"
        lines.append(line)
    return lines


# ------------------------------------------------------------------ modes


def corpus_fn():
    cache: dict[float, str] = {}

    def corpus(sf: float) -> str:
        if sf not in cache:
            cache[sf] = datagen.ensure_corpus(str(STATE), sf)
        return cache[sf]

    return corpus


def regen_expected() -> None:
    """Row count and value hash of every mix query, from its DuckDB
    oracle, at the measured and the warm-up/smoke scale."""
    import duckdb

    from sandbox_data_pipeline_spark.catalog import TABLES, oracle_prelude
    from sandbox_data_pipeline_spark.queries import registry

    _, oracle = registry()
    corpus = corpus_fn()
    out: dict[str, dict] = {}
    scales = {sf: [n for w, mix in MIXES.items() if MIX_SF[w] == sf for n in mix] for sf in MIX_SF.values()}
    scales[WARM_SF] = [n for mix in MIXES.values() for n in mix]
    for sf, names in scales.items():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus(sf)}/{t}.parquet'")
        block = out[f"sf{sf:g}"] = {}
        for name in names:
            t = time.perf_counter()
            res = con.execute(oracle_prelude(FLAGSHIP_SQL) if name == "flagship" else oracle[name])
            block[name] = rows_hash([d[0] for d in res.description], res.fetchall())
            print(f"sf{sf:g} {name}: {block[name]} ({time.perf_counter() - t:.1f}s)", file=sys.stderr)
        con.close()
    EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


def compare(a_path: str, b_path: str) -> int:
    a, b = (json.loads(Path(p).read_text()) for p in (a_path, b_path))
    if a["env"]["cpus"] != b["env"]["cpus"]:
        print(f"refusing to compare: cpus {a['env']['cpus']} vs {b['env']['cpus']}", file=sys.stderr)
        return 2
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            va, vb = m["value"], b["metrics"][name]["value"]
            ratio = f"{vb / va:.3f}" if va else "-"
            print(f"{name:24s} {va:12.4f} {vb:12.4f} {m['unit']:6s} x{ratio}")
    return 0


def bench(args: argparse.Namespace) -> int:
    work = STATE / f"work-{os.getpid()}"
    cpus = pin_environment(work)
    runs_dir = STATE / "runs"
    runs_dir.mkdir(parents=True, exist_ok=True)

    import pyspark

    from sandbox_data_pipeline_spark.session import get_spark

    corpus = corpus_fn()
    tracer = Tracer(enabled=bool(args.trace))
    # Import every module a workload touches before rebinding, so each
    # caller's binding is found and later restored.
    import sandbox_data_pipeline_spark.plans.flagship  # noqa: F401
    import sandbox_data_pipeline_spark.plans.pipeline  # noqa: F401
    import sandbox_data_pipeline_spark.queries  # noqa: F401
    import sandbox_data_pipeline_spark.streaming.hourly  # noqa: F401

    rebinder = instrument(tracer) if args.trace else None
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=0.0 if args.smoke else args.seconds,
            smoke=args.smoke,
            work=str(work),
            corpus=corpus,
            expected=json.loads(EXPECTED.read_text()),
            deadline_hard=T0 + HARD_STOP_S,
            jvm_pid=jvm_pid(spark),
        )
        if args.workload in MIXES:
            run_mix(run, args.workload)
        else:
            run_hourly(run)
        rss = peak_rss_mb(run.jvm_pid)
        env = {
            "cpus": cpus,
            "git_sha": git_sha(),
            "src_sha": source_sha(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "seed": args.seed,
            "workload": args.workload,
            "trace": args.trace,
            "seconds": args.seconds,
            "smoke": args.smoke,
        }
    finally:
        if rebinder:
            rebinder.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        values = per_layer(run, args.workload, rss)
    else:
        values = end_to_end(run, args.workload, run.setup_done - T0)
    metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
    tag = f"{args.workload}-seed{args.seed}{'-smoke' if args.smoke else ''}"
    record = {
        "env": env,
        "metrics": metrics,
        "mix_s": mix(run, args.workload, "s"),
        "peak_rss_mb": rss,
        "failures": run.failures,
        "samples": run.samples,
        "counts": tracer.counts,
    }
    (runs_dir / f"{tag}-trace{args.trace}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        (runs_dir / f"{tag}-spans.json").write_text(json.dumps(tracer.spans))

    print(f"# env {json.dumps(env)}")
    for line in latency_lines(run, args.workload):
        print(f"# {line}")
    print(
        f"# mix_s {mix(run, args.workload, 's'):.4f} s wall, mix_cpu_s {mix(run, args.workload, 'cpu'):.4f} s cpu, "
        f"mix_alloc_mb {mix(run, args.workload, 'alloc_mb'):.1f} MB, peak_rss_mb {rss:.1f} MB"
    )
    for op, msg in run.failures:
        print(f"# FAILED {op}: {msg}")
    print(f"# ops_failed_ratio {run.failed / max(run.attempted, 1):.4f} ratio ({run.failed}/{run.attempted})")
    if args.trace:
        untraced = runs_dir / f"{tag}-trace0.json"
        mix0 = json.loads(untraced.read_text()).get("mix_s") if untraced.exists() else None
        if mix0 is None:
            print(f"# tracing overhead unknown: no untraced record of {tag}; run it with --trace 0 first")
        else:
            mix1 = mix(run, args.workload, "s")
            print(f"# tracing overhead {mix1 - mix0:+.4f} s on mix_s (traced {mix1:.4f} vs untraced {mix0:.4f})")
    for n, m in metrics.items():
        print(f"# {n} {m['value']:.6g} {m['unit']}")
    short = incomplete(run)
    if short and not run.failures:
        # Ran out of time before the workload's fixed shape: a metric over
        # fewer samples would read as a gain, so no result is printed.
        print(f"perfbench: too few measured samples {short}; no result", file=sys.stderr)
        return 2
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 1 if run.failures else 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    require_engine()
    sys.path.insert(0, str(ROOT))
    if args.regen_expected:
        regen_expected()
        return 0

    def watchdog(signum, frame):
        raise Overtime(f"run exceeded {WATCHDOG_S}s")

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)
    return bench(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
