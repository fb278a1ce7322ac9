"""KG job benchmark: warm-timed ``run_kg_checkpointed`` + output write.

    python3 perfbench/run.py --workload kg_fresh --seed 1 --seconds 10 --trace 0

Workloads (inputs are generated from --seed; the job sees only parquet):
  kg_fresh   std corpus (ner_spark.synth's distribution), empty checkpoint root
  kg_dense   dense corpus (~3000 aliases, 20-40 entities per file), empty root
  kg_resume  dense corpus, profiles committed, triples manifest missing

One run: generate or reuse the cached input and its oracle; start the
Spark driver in its own process (setup_s: spawn until the session is up
and the Python workers are forked); warm up with full iterations for
--seconds, discarded; time warm iterations for --seconds; check every
output against the oracle. With --trace 1 the run repeats warm-up and
timed loop on a session with the Spark event log on, times one call per
layer, and reports per-layer metrics instead of the end-to-end ones.

The last stdout line is the result JSON (correct / attempted / failed /
metrics); the line before it is the run record with every iteration, the
host block and, for traced runs, the per-layer table. Every process the run
starts is stopped before it exits, also on error, timeout and SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import proctree  # noqa: E402

# Sizes keep one run (input generation, session start, warm-up, timed loop,
# oracle checks) near 40 s on a 4-core host, so that some seventy runs over
# the three workloads fit in under an hour.
WORKLOADS = {
    # name: (corpus, files, checkpoint state)
    "kg_fresh": ("std", 100_000, "fresh"),
    "kg_dense": ("dense", 3_000, "fresh"),
    "kg_resume": ("dense", 12_000, "resume"),
}
DEADLINE_S = 170.0
WORK = ROOT / "perfbench" / ".work"


class Terminated(Exception):
    pass


def _on_signal(signum, _frame):
    raise Terminated(f"signal {signum}")


def meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_block() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem = meminfo_mb()
    # an eighth of RAM, 1-2 GiB, in 256 MiB steps: the corpora here are small
    heap_mb = max(1024, min(2048, mem // 8)) // 256 * 256
    import pyarrow
    import pyspark

    java = "unknown"
    release = Path(os.environ.get("JAVA_HOME", "/nonexistent")) / "release"
    if release.exists():
        for line in release.read_text().splitlines():
            if line.startswith("JAVA_VERSION="):
                java = line.split("=", 1)[1].strip('"')
    return {
        "nproc": cpus,
        "mem_total_mb": mem,
        "java": java,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": f"local[{cpus}]",
        "driver_heap": f"{heap_mb}m",
    }


def run_worker(args: list[str], run_dir: Path, host: dict, deadline: float) -> dict:
    """Run the Spark driver (worker.py) in its own session; return its result."""
    result = run_dir / "result.json"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["TMPDIR"] = str(run_dir / "tmp")
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [sys.executable, "-m", "perfbench.worker", "--run-dir", str(run_dir / "worker"),
           "--result", str(result), "--cpus", str(host["nproc"]), "--heap", host["driver_heap"],
           "--t-spawn", repr(time.time()), *args]
    # e.g. the multiprocessing resource tracker left by input generation
    older = frozenset(proctree.descendants(os.getpid()))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        # the JVM and pyspark.daemon outlive the worker briefly while
        # they shut down; give them time to exit on their own
        proctree.kill_tree(os.getpid(), wait_s=0.0 if proc.poll() is None else 15.0, keep=older)
    if rc != 0 or not result.exists():
        raise RuntimeError(f"worker exited with {rc} and no result")
    return json.loads(result.read_text())


def summarize(res: dict, trace: bool) -> dict:
    """The result line: correctness, failure accounting and the metrics
    BENCHMARK.json lists for this mode, with its units."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    recs = res["iterations"] + res.get("traced", [])
    failed = sum(not r["ok"] for r in recs)
    attempted = len(recs)
    if trace:
        attempted += 1
        failed += not res["layers_output_ok"]
        values = res["layers"]
    else:
        ok = [r for r in res["iterations"] if r["ok"]]
        values = {"peak_rss_mb": res["peak_rss_bytes"] / 2**20, "setup_s": res["setup_s"]}
        if ok:
            values["triples_per_s"] = statistics.median(r["triples"] / r["wall_s"] for r in ok)
            values["cpu_s"] = statistics.median(r["cpu_s"] for r in ok)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=float, default=10.0, help="length of the timed loop")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not (ROOT / "ner_spark" / "plans" / "checkpoint.py").is_file():
        print(f"perfbench: no ner_spark package under {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    proctree.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    corpus_name, n_files, mode = WORKLOADS[args.workload]
    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    rc = 1
    try:
        from perfbench import corpus

        host = host_block()
        t0 = time.perf_counter()
        data = corpus.prepare(WORK, corpus_name, n_files, args.seed, procs=host["nproc"])
        prepare_s = time.perf_counter() - t0
        wargs = ["--corpus-dir", str(data.path), "--mode", mode, "--seconds", str(args.seconds)]
        if args.trace:
            wargs.append("--trace")
        res = run_worker(wargs, run_dir, host, deadline)
        summary = summarize(res, bool(args.trace))
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "corpus": {"name": corpus_name, "files": data.n_files, "oracle_triples": data.n_triples,
                       "prepare_s": prepare_s},
            "host": host, "setup_s": res["setup_s"], "phases_s": res.get("phases_s"),
            "iterations": res["iterations"], "traced_iterations": res.get("traced", []),
            "per_layer": res.get("layers"), "missing": res.get("missing"),
            "result": summary,
        }
        (WORK / "results").mkdir(parents=True, exist_ok=True)
        (WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps(record, indent=1))
        print(json.dumps(record))
        print(json.dumps(summary))
        rc = 0
    except (Terminated, subprocess.TimeoutExpired, RuntimeError) as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        rc = 1
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        left = proctree.kill_tree(os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)
        if left:
            print(f"perfbench: processes still alive after cleanup: {left}", file=sys.stderr)
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
