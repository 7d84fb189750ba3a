"""Repository benchmark: two workloads over the proj_spark engine.

    python3 perfbench/run.py --workload {geolocate,dedup} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process is one run: it starts a
local[nproc] session, generates the workload's inputs from --seed,
computes the expected outputs, warms up, then runs timed jobs in a closed
loop with one client for --seconds and checks every job's output.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. --trace 0 reports the end-to-end metrics; --trace 1 alternates
traced and untraced jobs, reads Spark's status stores after each traced
job and reports the per-layer metrics plus the tracing overhead. Each run
also writes an artifact (and, traced, a span file) under .perfbench/.
See perfbench/NOTES.md for why each workload exists.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import os  # noqa: E402

# Transparent-hugepage madvise stalls numpy's large buffers on this kind of
# shared VM (see bench.py). Set before numpy is first imported here, so the
# Python workers Spark forks inherit it too.
os.environ["NUMPY_MADVISE_HUGEPAGE"] = "0"

import argparse  # noqa: E402
import ctypes  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent  # the checkout
# workload name -> class in the module of the same name in this directory
WORKLOADS = {"geolocate": "Geolocate", "dedup": "Dedup"}
# Jobs run before timing starts, chosen from measured warm-up curves and
# the time budget (NOTES.md).
WARMUP_JOBS = {"geolocate": 2, "dedup": 1}
HEAP = "1g"


def _load(name: str):
    return getattr(importlib.import_module(name), WORKLOADS[name])


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _units(section: str) -> dict:
    """Metric name -> unit for one section of BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, (t, time.perf_counter())


def _session(workload: str, cpus: int, workdir: Path):
    from proj_spark.session import get_spark

    spark = get_spark(f"perfbench_{workload}", cpus=cpus, extra_conf={
        "spark.local.dir": str(workdir / "spark-local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        # A fixed, pre-touched heap: the JVM's RSS is then its heap plus
        # native memory, not G1's run-to-run adaptive sizing, so the
        # process-tree peak moves only when real memory use does.
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={workdir / 'tmp'}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark):
    """Stop the session, if one was made, and end the gateway JVM, if one was
    started. SparkSession.stop leaves the JVM alive until this process
    exits, so it could outlive the run; closing its stdin makes it exit,
    and it is killed if it lingers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _become_subreaper():
    """Have orphaned descendants (Python workers, the spark-submit launcher)
    re-parented to this process instead of init, so _reap_descendants can
    end and wait for every one of them."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_descendants(grace: float = 20.0):
    """Wait until this process has no child left, reaping each one; after
    ``grace`` seconds, kill those still running. With _become_subreaper this
    covers every process the run started, however deep."""
    from common import _children

    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run(args, workdir: Path):
    """One benchmark run. Returns (result line, artifact, tracer)."""
    from common import RssSampler, Tracer, cpu_ticks, median, steal_frac
    from sparkstore import StatusStore, session_layer

    cpus = len(os.sched_getaffinity(0))
    tr = Tracer(bool(args.trace), T0)
    off = Tracer(False, T0)
    spark = sampler = None
    try:
        with tr.span("setup"):
            with tr.span("session"):
                spark = _session(args.workload, cpus, workdir)
            sc = spark.sparkContext
            sampler = RssSampler()
            sampler.start(int(sc._jvm.java.lang.ProcessHandle.current().pid()))
            store = StatusStore(spark) if args.trace else None
            wl = _load(args.workload)(spark, args.seed, str(workdir))
            with tr.span("inputs"):
                wl.setup()
            # The expected outputs are computed on a second thread while the
            # warm-up jobs run: neither is timed, so overlapping them only
            # shortens set-up.
            with ThreadPoolExecutor(1) as pool:
                fut = pool.submit(_timed, wl.expected_outputs)
                warmup, results = [], []
                for w in range(WARMUP_JOBS[args.workload]):
                    sc.setJobGroup(f"warmup-{w}", "perfbench warm-up")
                    with tr.span("warmup_job"):
                        t = time.perf_counter()
                        results.append(wl.job(-1 - w, off))
                        warmup.append(time.perf_counter() - t)
                wl.expected, t_exp = fut.result()
            tr.add("expected_outputs", *t_exp)
            for w, res in enumerate(results):
                if not wl.check(res):
                    raise RuntimeError(f"warm-up job {w} gave a wrong result: {res}")
        setup_s = time.perf_counter() - T0

        # closed loop, one client: the next job starts when the last returns
        walls, oks, traced_iter, untraced_iter, layer_recs = [], [], [], [], []
        sampler.reset()
        ticks = cpu_ticks()
        t_loop = time.perf_counter()
        i = 0
        while time.perf_counter() - t_loop < args.seconds:
            traced = bool(args.trace) and i % 2 == 0
            jtr = tr if traced else off
            group = f"job-{i}"
            sc.setJobGroup(group, "perfbench timed job")
            mark = store.begin() if traced else None
            t_iter = time.perf_counter()
            with jtr.span("job", job=i) as span:
                t = time.perf_counter()
                try:
                    res = wl.job(i, jtr)
                    ok = wl.check(res)
                    if not ok:
                        print(f"job {i}: wrong result {res}", file=sys.stderr)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    res, ok = None, False
                wall = time.perf_counter() - t
                if traced:
                    with tr.span("status_store.read"):
                        rec = store.read(group, mark)
                        layers = session_layer(rec, cpus)
                        if ok:
                            layers.update(wl.layers(res, rec))
                    span.update(wall_s=wall, ok=ok, **layers)
                    layer_recs.append(layers)
            walls.append(wall)
            oks.append(ok)
            (traced_iter if traced else untraced_iter).append(
                time.perf_counter() - t_iter)
            i += 1
        peak_tree_mb, peak_py_mb = sampler.peaks_mb()
        steal = steal_frac(ticks, cpu_ticks())

        correct = all(oks)
        extra = {}
        if args.trace:
            with tr.span("extras"):
                extra, extra_ok = wl.extra_layers(tr)
            correct = correct and extra_ok
            keys = sorted({k for r in layer_recs for k in r})
            metrics = {k: median([r.get(k, 0.0) for r in layer_recs]) for k in keys}
            metrics.update(extra)
            if "stages.noop_crossing_s" in extra:
                metrics["stages.boundary_share"] = (
                    extra["stages.noop_crossing_s"] / median(walls))
            metrics["stages.py_worker_peak_rss_mb"] = peak_py_mb
            metrics["session.jvm_peak_rss_mb"] = sampler.jvm_hwm_mb()
            if untraced_iter:
                metrics["trace.overhead_pct"] = 100.0 * (
                    median(traced_iter) / median(untraced_iter) - 1.0)
            metrics["cpus"] = cpus
            metrics["host.steal_pct"] = 100.0 * steal
        else:
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": wl.rows_per_job * len(walls) / sum(walls),
                "query_s.p50": median(walls),
                "peak_rss_mb": peak_tree_mb,
                "ok_frac": sum(oks) / len(oks),
            }
        artifact = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
            "config": wl.config(),
            "setup_s": setup_s, "warmup_walls_s": warmup,
            "job_walls_s": walls, "job_ok": oks, "steal_frac": steal,
            "query_s_samples": len(walls),
            "traced_iter_s": traced_iter, "untraced_iter_s": untraced_iter,
            "peak_tree_rss_mb": peak_tree_mb, "peak_python_rss_mb": peak_py_mb,
            "peak_python_procs": sampler.peak_py_procs,
            "jvm_hwm_mb": sampler.jvm_hwm_mb(),
            "layers_per_job": layer_recs, "extra_layers": extra,
            "metrics": metrics,
        }
    finally:
        if sampler is not None:
            sampler.stop()
        _stop_jvm(spark)
    line = {"correct": correct, "attempted": len(oks),
            "failed": len(oks) - sum(oks), "metrics": metrics}
    return line, artifact, tr


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "proj_spark" / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no proj_spark package or bench.py under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    base = ROOT / ".perfbench"
    workdir = base / f"work-{args.workload}-{os.getpid()}"
    artifact_dir = base / "artifacts"
    for d in (workdir / "tmp", artifact_dir):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    # the spark-submit launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    _become_subreaper()
    # on SIGTERM, unwind through the finally blocks that end the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out, art, tracer = run(args, workdir)
    finally:
        _reap_descendants()
        shutil.rmtree(workdir, ignore_errors=True)

    from bench import _host_probe
    art["host_probe"] = _host_probe()
    stem = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    art_path = artifact_dir / f"{stem}.json"
    if args.trace:
        tracer.write(str(artifact_dir / f"{stem}.spans.jsonl"))
        art["spans"] = f"{stem}.spans.jsonl"
    art_path.write_text(json.dumps(art, indent=1) + "\n")
    print(f"perfbench: artifact {art_path}", file=sys.stderr)
    values = out["metrics"]
    if args.trace:
        values["host.alu_melems_per_s"] = art["host_probe"]["alu_melems_per_sec"]
        values["host.stream_gbs"] = art["host_probe"]["stream_gbytes_per_sec"]
    # a layer the workload does not exercise reports 0
    out["metrics"] = {k: _metric(float(values.get(k, 0.0)), u) for k, u in
                      _units("per_layer" if args.trace else "end_to_end").items()}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
