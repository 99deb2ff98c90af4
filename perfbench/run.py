"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run generates
its inputs from the seed under ``.perfbench_run/`` in the checkout,
starts perfbench/worker.py in an environment of its own (its own
TMPDIR, Spark local dir and JVM temp dir there; Spark task slots equal
to the CPUs this process may use), waits for it, counts the ``mdx_*``
directories the program left in that TMPDIR, removes the run's files
and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. With ``--trace 0`` the metrics are the end-to-end metrics
of BENCHMARK.json; with ``--trace 1`` its per-layer metrics, and the
run's spans are written to ``.perfbench_run/traces/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

PACKAGE = "metadata_extractors_api_spark"
WORKLOADS = ("extract_bulk", "extract_cli", "queries")
#: A run must end within 180 s; the worker is stopped before that.
WORKER_TIMEOUT_S = 160.0


def session_pids(sid: int) -> list[int]:
    """Processes still in session ``sid`` (the worker's, started with
    start_new_session: the JVM and Python workers Spark launched)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait until
    they have ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {checkout}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end" if not args.trace else "per_layer"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    base = os.path.join(checkout, ".perfbench_run")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    load1 = os.getloadavg()[0]
    try:
        t = time.perf_counter()
        oracle = {}
        if args.workload == "queries":
            sys.path.insert(0, checkout)
            from metadata_extractors_api_spark import ORACLE as oracle
        spec = inputs.write_inputs(args.workload, args.seed, os.path.join(run_dir, "in"), oracle)
        os.sync()  # flush the generated inputs now, not during the timed region
        gen_s = time.perf_counter() - t

        cpus = len(os.sched_getaffinity(0))
        cfg = {
            "checkout": checkout,
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "t0": T_START,
            "gen_s": gen_s,
            "inputs": spec,
            "result": os.path.join(run_dir, "result.json"),
            "trace_out": os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
            "layer_names": [m["name"] for m in bench["per_layer"]],
        }
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        })
        env.pop("SPARK_GRAFT_SHUFFLE", None)
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=checkout, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(1.0, WORKER_TIMEOUT_S - (time.time() - T_START)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_session(proc.pid)
                proc.wait()
        if code != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(cfg["result"]) as fh:
            result = json.load(fh)
        leaked = sum(1 for d in os.listdir(tmp) if d.startswith("mdx_"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = result["detail"] | {
        "workload": args.workload, "seed": args.seed, "load1_at_start": load1,
        "tmp_leaked_dirs": leaked, "gen_s": gen_s,
    }
    detail["shape"]["nproc"] = cpus
    values = result["layers"] | {"tmp.leaked_dirs": leaked} if args.trace else result["metrics"]
    print("perfbench detail " + json.dumps(detail))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
