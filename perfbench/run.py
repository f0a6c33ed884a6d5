"""Benchmark entry point: run one workload with one seed and print one
JSON result line.

    python3 perfbench/run.py --workload batch_jvm --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the event log, job groups, the streaming listener and spans
on, prints the per-layer metrics and writes the spans to
``.perfbench_work/traces/``. Everything the run writes stays under
``.perfbench_work/`` in the checkout. See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = {"batch_jvm": "batch", "batch_python": "batch",
             "lab_stream": "stream", "provider_http": "provider"}
RUN_LIMIT_S = 170
HEAP, YOUNG = "2g", "512m"


def _environment(run_dir: Path, trace: bool, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run directory, and pass the traced run's event-log flags to the JVM
    from outside the program."""
    tmp = run_dir / "tmp"
    (tmp / "spark-local").mkdir(parents=True)
    os.environ.update(
        TZ="UTC", TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    # A fixed heap and young generation. With G1 sizing the young generation
    # itself, batch_jvm's latency and throughput spread 0.23-0.31 (IQR over
    # median, five seeds) on 4 vCPUs, above the benchmark's 0.25 bound; with
    # these flags 0.07-0.12 on the same seeds. See perfbench/BASELINE.md.
    jvm = f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG}"
    args = ["--driver-java-options", jvm,
            "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    if trace:
        (run_dir / "eventlog").mkdir()
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={run_dir / 'eventlog'}",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_session(r) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (the PySpark daemon and its workers) has exited."""
    r.sampler.stop()
    if r.spark is None:
        return
    from pyspark import SparkContext

    r.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in r.sampler.descendants):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "quickstart_streaming_agents_spark" / "__init__.py").is_file() \
            or not (ROOT / "tests" / "oracle_util.py").is_file():
        print("perfbench: the program sources are not in this checkout", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    _environment(run_dir, bool(args.trace), cores)
    sys.path.insert(1, str(ROOT))

    import gen
    from harness import Run

    t_gen = time.perf_counter()
    data = gen.ensure(WORK)
    # generating the inputs is the benchmark's work, not the program's set-up
    t_process = T_PROCESS + time.perf_counter() - t_gen
    r = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), root=ROOT, work=WORK, run_dir=run_dir,
            data=data, t_process=t_process, spark_cores=cores)
    mod = importlib.import_module(WORKLOADS[args.workload])
    try:
        try:
            e2e = mod.run(r)
        finally:
            _stop_session(r)
        log = None
        if r.trace:
            from eventlog import EventLog, find_log

            path = find_log(run_dir / "eventlog")
            log = EventLog(path) if path else None
        result = r.finish(e2e, mod.layers(r, log))
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    for note in r.notes:
        print(f"note: {note}")
    shown = "" if r.trace else " ".join(
        f"{k}={v['value']:.6g}{v['unit']}" for k, v in result["metrics"].items())
    print(f"{args.workload} seed={args.seed}: error_rate="
          f"{r.failed / max(r.attempted, 1):.4g} ({r.failed}/{r.attempted}) {shown}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
