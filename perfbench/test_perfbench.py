"""Tests of the benchmark itself: process hygiene, failure in a bare
checkout, and seeded inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider

The run tests start real Spark sessions on the benchmark's own workloads,
so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["python3", "perfbench/run.py"]
WORKDIR = ROOT / "perfbench" / ".work" / "test"

sys.path.insert(0, str(ROOT))

from perfbench import corpus  # noqa: E402


def _tagged(token: str) -> list[int]:
    """Pids whose environment carries `token`."""
    needle = f"PERFBENCH_TEST_TOKEN={token}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _start(args: list[str], cwd: Path = ROOT) -> tuple[subprocess.Popen, str]:
    token = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_TOKEN=token)
    proc = subprocess.Popen([*RUN, *args], cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    return proc, token


def _assert_none_left(token: str) -> None:
    left = [(p, _cmdline(p)) for p in _tagged(token)]
    assert not left, f"processes left running: {left}"


def test_run_checks_output_and_leaves_no_process():
    proc, token = _start(["--workload", "kg_resume", "--seed", "5", "--seconds", "1",
                          "--trace", "0"])
    out, _ = proc.communicate(timeout=180)
    assert proc.returncode == 0
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {"triples_per_s", "cpu_s", "peak_rss_mb", "setup_s"}
    record = json.loads(out.strip().splitlines()[-2])
    assert all(r["stages_reused"] == 1 and r["stages_total"] == 2 for r in record["iterations"])
    _assert_none_left(token)


def test_sigterm_mid_run_leaves_no_process():
    proc, token = _start(["--workload", "kg_fresh", "--seed", "6", "--seconds", "30",
                          "--trace", "0"])
    try:
        deadline = time.monotonic() + 120
        # wait until the main worker's JVM and Python workers are up
        while not any("pyspark.daemon" in _cmdline(p) for p in _tagged(token)):
            assert proc.poll() is None, "benchmark exited before Spark started"
            assert time.monotonic() < deadline, "Spark never started"
            time.sleep(0.5)
        time.sleep(3)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert '"correct"' not in out
    _assert_none_left(token)


def test_bare_checkout_fails_without_result():
    bare = WORKDIR / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    try:
        proc, token = _start(["--workload", "kg_fresh", "--seed", "1", "--seconds", "1",
                              "--trace", "0"], cwd=bare)
        out, _ = proc.communicate(timeout=180)
        assert proc.returncode != 0
        assert '"correct"' not in out
        _assert_none_left(token)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_inputs_are_a_function_of_the_seed():
    work = WORKDIR / "inputs"
    shutil.rmtree(work, ignore_errors=True)
    try:
        a = corpus.prepare(work / "a", "dense", 300, 3, procs=2)
        b = corpus.prepare(work / "b", "dense", 300, 3, procs=2)
        c = corpus.prepare(work / "c", "dense", 300, 4, procs=2)
        assert a.oracle == b.oracle and a.gazetteer == b.gazetteer
        assert a.oracle != c.oracle
        assert corpus.prepare(work / "d", "dense", 300, -3, procs=2).n_files == 300
        assert len({alias for alias, _, _ in a.gazetteer}) == len(a.gazetteer) > 2500
        s = corpus.prepare(work / "a", "std", 300, 3, procs=2)
        assert s.n_files == 300 and set(s.oracle) == {"CONTAINS", "COOCCURS", "DECLARES"}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_std_oracle_matches_the_synth_golden_set():
    """The benchmark's oracle and ner_spark.synth's own golden triples agree
    on the std corpus (both are pure Python; neither runs the pipeline)."""
    from ner_spark import synth

    work = WORKDIR / "golden"
    shutil.rmtree(work, ignore_errors=True)
    try:
        seed, n = 2, 400
        got = corpus.prepare(work, "std", n, seed, procs=2).oracle
        base = seed * corpus.STD_STRIDE
        golden: set[tuple[str, str, str]] = set()
        for i in range(n):
            golden |= synth.golden_triples_for_file(base + i)
        want = {}
        for pred in ("CONTAINS", "COOCCURS", "DECLARES"):
            want[pred] = corpus.fingerprint(corpus.SEP.join(t) for t in golden if t[1] == pred)
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)
