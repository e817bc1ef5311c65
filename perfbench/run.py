"""Repo benchmark: three runner jobs timed end to end and split by layer.

    python3 perfbench/run.py --workload mixed_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

Each op is one job run in-process through ``runner.main`` (the
spark-submit entry point) on ``local[nproc]``, one op at a time, each
on a fresh output root.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate traced run that reports the per-layer
metrics.  Inputs come from ``--seed`` (see inputs.py); every op's output
is checked (checks.py) and a failed check counts as a failed op.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the same metrics with units, ``error_rate`` and the run-health
record, and the record with the spans is written under
``.perfbench_out/``.  ``compare.py`` compares two sets of records.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
WORKLOADS = ("mixed_extract", "prose_extract", "corpus_incremental")
BUCKETS = "16"  # --buckets for every job: four per core at local[4]
SETUPS = 5  # setups per untraced run; setup_s is their median
MIN_WARM = 3  # measured warm ops per untraced run, even when --seconds runs out
DRIVER_MEM = "3g"  # local-mode driver heap: inputs are a few MB; leaves the box's RAM to others


def configure_env() -> None:
    """Everything Spark writes stays in the checkout; workers import the
    package from it; the console progress bar stays off stdout."""
    sys.path.insert(0, str(ROOT))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def health() -> dict:
    """Run-health record: the figures two results must share to compare."""
    import hashlib

    import pandas
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    for p in sorted((ROOT / "pdf_ocr_api_spark").rglob("*.py")):
        src.update(p.read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "source_sha256": src.hexdigest()[:16],
    }


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole machine from /proc/stat: steal is
    time the hypervisor gave this VM's CPUs to someone else, the usual
    cause of a slow run on a shared host."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Workload:
    """One workload's inputs, session, ops and checks."""

    def __init__(self, name: str, seed: int, nproc: int):
        import inputs
        from checks import local_rows, sample

        self.name, self.seed, self.nproc = name, seed, nproc
        self.spec = inputs.SPECS[name]
        self.tables = inputs.make_tables(name, seed)
        self.inp = self.tables["input"]
        self.n_turns = len(self.inp)
        self.text_bytes = inputs.text_bytes(self.inp)
        self.info = inputs.describe(self.tables)
        self.with_services = name != "prose_extract"
        self.expected = local_rows(sample(self.inp, seed), self.with_services)
        self.spark = None
        self.n_setups = 0
        self.n_ops = 0
        self.digests: list[dict] = []
        self.setup_log: list[float] | None = None  # untraced runs: every setup's seconds
        self.op_log: list[dict] | None = None  # untraced runs: every checked op

    # -- setup -----------------------------------------------------------
    def setup(self) -> float:
        """Session start, input load and store preparation; seconds."""
        import bench

        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = bench.build_session(self.nproc)
        self.load()
        took = time.monotonic() - t0
        log(f"setup{self.n_setups}: {took:.2f} s")
        return took

    def load(self) -> None:
        """Write the input tables and, for corpus_incremental, build the
        stored corpus with a ``--clean-corpus`` job."""
        from inputs import COLUMNS

        from pdf_ocr_api_spark import runner

        schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
        self.n_setups += 1
        root = WORK / f"{self.name}-setup{self.n_setups}"
        for name, pdf in self.tables.items():
            self.spark.createDataFrame(pdf[COLUMNS], schema).repartition(2 * self.nproc).write.parquet(
                str(root / name)
            )
        self.input_path = str(root / "input")
        if "store" in self.tables:
            self.store_root = root / "store"
            _quiet(runner.main, [
                "--input", str(root / "store"), "--output", str(self.store_root),
                "--clean-corpus", *self.corpus_flags(),
            ])

    def corpus_flags(self) -> list[str]:
        return ["--repetition-gate", "--dedup-substrings", str(self.spec.dedup_width),
                "--buckets", BUCKETS]

    # -- ops -------------------------------------------------------------
    def op_args(self, out_root: Path) -> list[str]:
        io_args = ["--input", self.input_path, "--output", str(out_root)]
        if self.name == "mixed_extract":
            return io_args + ["--records", "--buckets", BUCKETS]
        if self.name == "prose_extract":
            return io_args + ["--text-only", "--buckets", BUCKETS]
        return io_args + ["--clean-incremental", *self.corpus_flags()]

    def prepare_op(self) -> Path:
        """A fresh output root; corpus ops get a fresh copy of the store."""
        from sparkstats import drain

        self.n_ops += 1
        out_root = WORK / "ops" / f"{self.name}-op{self.n_ops}"
        if "store" in self.tables:
            shutil.copytree(self.store_root, out_root)
        drain(self.spark)
        return out_root

    def run_op(self, out_root: Path) -> dict:
        """Run one job and time it; the result has the runner's summary."""
        from sparkstats import RssSampler

        from pdf_ocr_api_spark import runner

        before = dir_stats(out_root) if out_root.exists() else (0, 0)
        with RssSampler() as rss:
            t0 = time.monotonic()
            summary = _quiet(runner.main, self.op_args(out_root))
            wall = time.monotonic() - t0
        after = dir_stats(out_root)
        return {
            "wall_s": wall, "summary": summary, "peak_rss_mb": rss.peak_mb,
            "files_written": after[0] - before[0], "bytes_written": after[1] - before[1],
        }

    def check_op(self, out_root: Path, op: dict) -> list[str]:
        import checks

        if "store" in self.tables:
            errors, digs = checks.corpus_op(
                self.spark, str(out_root), op["summary"], self.n_turns, f"s{self.seed}-batch-"
            )
        else:
            errors, digs = checks.extract_op(
                self.spark, str(out_root), op["summary"], self.n_turns, self.expected,
                records=self.name == "mixed_extract", canary_prefix=f"s{self.seed}-canary-",
            )
        recorded = checks.recorded_digests()
        for kind, dig in digs.items():
            want = recorded.get(f"{self.name}:{self.seed if kind == 'seed' else kind}")
            if want is not None and dig != want:
                errors.append(f"{kind} output digest {dig} != recorded {want}")
        if self.digests and digs != self.digests[0]:
            errors.append(f"output digests {digs} differ from the first op's {self.digests[0]}")
        self.digests.append(digs)
        return errors

    def check_sample_extraction(self) -> list[str]:
        """corpus_incremental stores no extraction table: run the Spark
        extraction over the sample turns and compare."""
        import checks
        from inputs import COLUMNS

        from pdf_ocr_api_spark import pipeline

        keys = list(self.expected)
        pdf = self.inp.set_index(["conv_id", "turn_idx"]).loc[keys].reset_index()
        df = self.spark.createDataFrame(pdf[COLUMNS])
        got = checks.spark_rows(pipeline.extract_transcripts(df, with_services=self.with_services), keys)
        return checks.compare_sample(self.expected, got)

    def checked_op(self, failures: list[str]) -> dict | None:
        """Prepare, run and check one op; a raise or a failed check is
        recorded in ``failures`` and gives None."""
        out_root = self.prepare_op()
        try:
            op = self.run_op(out_root)
            t0 = time.monotonic()
            errors = self.check_op(out_root, op)
            log(f"{self.name}-op{self.n_ops} checks: {time.monotonic() - t0:.2f} s")
        except Exception as exc:  # an op that raises is a failed op
            errors = [f"{type(exc).__name__}: {exc}"]
            op = None
        shutil.rmtree(out_root, ignore_errors=True)
        if errors:
            failures.append(f"{self.name}-op{self.n_ops}: " + "; ".join(errors))
            log(f"{self.name}-op{self.n_ops} failed: {errors}")
            return None
        log(f"{self.name}-op{self.n_ops}: {op['wall_s']:.2f} s")
        return op


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _quiet(fn, argv):
    """Call a runner entry point, capturing its stdout; returns the JSON
    summary it printed last (None when it printed none)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(argv)
    if rc:
        raise RuntimeError(f"runner exited {rc}: {buf.getvalue()[-500:]}")
    lines = [l for l in buf.getvalue().splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


# ---------------------------------------------------------------------------
# untraced run: the end-to-end metrics
# ---------------------------------------------------------------------------

def untraced(w: Workload, seconds: float) -> tuple[dict, int, list[str]]:
    failures: list[str] = []
    setups = [w.setup()]
    if "store" in w.tables:
        failures += [f"sample: {e}" for e in w.check_sample_extraction()]
    ops: list[dict] = []
    cold = w.checked_op(failures)
    warm_start = time.monotonic()
    while len(ops) < MIN_WARM or time.monotonic() - warm_start < seconds:
        op = w.checked_op(failures)
        if op is not None:
            ops.append(op)
        elif len(failures) > 3:
            break
    while len(setups) < SETUPS:
        setups.append(w.setup())
    attempted = w.n_ops
    all_ops = ops + ([cold] if cold else [])
    w.op_log = [{k: o[k] for k in ("wall_s", "peak_rss_mb", "bytes_written")} for o in all_ops]
    w.setup_log = setups
    if not ops or cold is None:
        return {}, attempted, failures
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_s": cold["wall_s"],
        "turns_per_s": w.n_turns / statistics.median(o["wall_s"] for o in ops),
        "peak_rss_mb": statistics.median(o["peak_rss_mb"] for o in all_ops),
        "stored_bytes_per_input_byte": statistics.median(
            o["bytes_written"] / w.text_bytes for o in all_ops
        ),
    }
    return metrics, attempted, failures


# ---------------------------------------------------------------------------
# traced run: the per-layer metrics
# ---------------------------------------------------------------------------

def traced(w: Workload) -> tuple[dict, int, list[str], list[dict]]:
    """Direct layer probes, then a cold op, a traced op and its untraced
    twin; the difference of the last two is the tracing overhead.  The
    mixed_extract run also traces a corpus_incremental op on the same
    session, so the ops layer is measured by a workload BENCHMARK.json
    declares (corpus_incremental itself is too slow to run twenty-odd
    times in one comparison)."""
    import layers
    import sparkstats
    import tracing

    failures: list[str] = []
    w.setup()
    tracer = tracing.Tracer(w.spark)
    listener = sparkstats.register_catalyst_listener(w.spark)
    m = layers.pipeline_probe(w, tracer)  # first: pays Python worker boot
    if m.pop("pipeline.rows_counted") != w.n_turns:
        failures.append("probe: extract_transcripts(...) row count != input turns")
    m.update(layers.local_probes(w, tracer))
    w.checked_op(failures)  # cold: the traced op and its untraced twin both run warm
    op_m = traced_op(w, tracer, listener, failures)
    twin = w.checked_op(failures)
    if twin is not None and op_m:
        op_m["trace.overhead_s"] = op_m["trace.op_wall_s"] - twin["wall_s"]
    m.update(op_m)
    attempted = w.n_ops
    if w.name == "mixed_extract":
        cw = Workload("corpus_incremental", w.seed, w.nproc)
        cw.spark = w.spark
        cw.load()
        failures += [f"corpus sample: {e}" for e in cw.check_sample_extraction()]
        cm = traced_op(cw, tracer, listener, failures)
        m.update({k: v for k, v in cm.items() if k.startswith("ops.")})
        attempted += cw.n_ops
    return m, attempted, failures, tracer.spans


def traced_op(w: Workload, tracer, listener, failures: list[str]) -> dict:
    """One op run under the layer wrappers; its per-layer split."""
    import layers
    import tracing

    saved = tracing.instrument(tracer)
    try:
        out_root = w.prepare_op()
        listener.take(w.spark)
        tracer.op_id = f"{w.name}-op{w.n_ops}"
        with tracer.span("op.runner_main") as root:
            op = w.run_op(out_root)
        tracer.op_id = None
        catalyst_s = listener.take(w.spark)  # before the checks run actions of their own
    except Exception as exc:
        failures.append(f"{w.name}-op{w.n_ops}: {type(exc).__name__}: {exc}")
        return {}
    finally:
        tracing.uninstrument(saved)
    try:
        errors = w.check_op(out_root, op)
    except Exception as exc:
        errors = [f"{type(exc).__name__}: {exc}"]
    if errors:
        failures.append(f"{w.name}-op{w.n_ops}: " + "; ".join(errors))
    m = layers.op_metrics(w, tracer, root, op, out_root)
    m["spark.catalyst_s"] = catalyst_s
    shutil.rmtree(out_root, ignore_errors=True)
    log(f"{w.name}-op{w.n_ops} traced: {m['trace.op_wall_s']:.2f} s, "
        f"other {m['trace.other_share']:.1%}")
    return m


# ---------------------------------------------------------------------------

def run_one(args) -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    import bench  # the repo's frozen harness: session builder and contention probe

    stamp = health()
    stamp["probe_before_s"] = bench._contention_probe()
    cpu_before = cpu_ticks()
    w = Workload(args.workload, args.seed, os.cpu_count() or 1)
    spans: list[dict] = []
    try:
        if args.trace:
            metrics, attempted, failures, spans = traced(w)
        else:
            metrics, attempted, failures = untraced(w, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    stamp["probe_after_s"] = bench._contention_probe()
    busy, steal = (a - b for a, b in zip(cpu_ticks(), cpu_before))
    stamp["cpu_steal_share"] = steal / max(1, busy + steal)
    if args.record_digests and not failures and w.digests:
        import checks

        checks.record_digests(w.name, w.seed, w.digests[0])

    failed = min(attempted, len({f.split(":", 1)[0] for f in failures}))
    units = declared_metrics(args.trace)
    missing = [n for n in units if n not in metrics]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    record = {
        "workload": w.name, "seed": w.seed, "trace": args.trace, "health": stamp,
        "inputs": w.info, "error_rate": failed / max(1, attempted), "failures": failures,
        "setups_s": w.setup_log, "ops": w.op_log,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items() if n in units},
    }
    OUT.mkdir(exist_ok=True)
    (OUT / f"{w.name}-seed{w.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "spans": spans}, indent=1, default=str)
    )
    print(json.dumps(record))
    print(json.dumps({
        "correct": not failures and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


def declared_metrics(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for a run."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_all(args) -> int:
    """Every workload in its own process; one line per workload with the
    end-to-end metrics by name and unit, and the error rate."""
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", wl, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"{wl}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            return 1
        rec = json.loads(lines[-2])
        cells = [f"{n}={m['value']:.4g} {m['unit']}" for n, m in rec["metrics"].items()]
        print(f"{wl}: " + "  ".join(cells + [f"error_rate={rec['error_rate']:.4g} ratio"]))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's output digests in perfbench/digests.json")
    args = ap.parse_args()
    if not (ROOT / "pdf_ocr_api_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"no repo checkout at {ROOT}: the benchmark builds on its package and bench.py",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
