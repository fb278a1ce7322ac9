"""Spark side of one benchmark run; ``run.py`` launches it in its own
session and reads the JSON it writes to ``--result``.

The timed operation is what ``jobs/run_kg.py`` does after its session is
up: ``run_kg_checkpointed(spark, input, root)`` and the
``partitionBy("pred")`` parquet write of its result. The session carries
the job's confs plus deployment settings only. Layers are timed from
outside, by calling their public functions; nothing in ``ner_spark`` is
patched.

Modes:
  (default)      setup; warm-up iterations for --seconds (at least one),
                 discarded; timed iterations for --seconds (at least
                 three), each on a fresh checkpoint root and output dir;
                 oracle checks.
  --trace        the same untraced, then again on a session with the
                 Spark event log on, followed by one call per layer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

from perfbench import corpus as corpus_mod
from perfbench import proctree

# the confs jobs/run_kg.py puts on its session
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}
MIN_ITERS = 3
MAX_CONSECUTIVE_FAILURES = 3


def start_session(args, run_dir: Path, event_log: Path | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("ner_spark_kg")
    for k, v in JOB_CONF.items():
        b = b.config(k, v)
    # deployment settings: master, heap, local dirs, UI off
    b = (
        b.master(f"local[{args.cpus}]")
        .config("spark.driver.memory", args.heap)
        .config("spark.local.dir", str(run_dir / "spark-local"))
        # a fixed-size heap, as ner_spark.session sets it (-Xms = driver memory)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{args.heap} -Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spawn_python_workers(spark, cpus: int) -> None:
    """One job over `cpus` partitions, so each slot's Python worker has
    been forked (and has imported the package) before anything is timed."""

    def touch(batches):
        import ner_spark.plans.checkpoint  # noqa: F401  (the package must resolve on workers)

        yield from batches

    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


# ---------------------------------------------------------------------------
# the timed job
# ---------------------------------------------------------------------------

class KgJob:
    """One workload's job: the timed call and the fresh checkpoint root and
    output dir each iteration gets."""

    def __init__(self, spark, data: corpus_mod.Corpus, mode: str, run_dir: Path):
        self.spark, self.data, self.mode, self.run_dir = spark, data, mode, run_dir
        self.pristine: Path | None = None

    def run(self, root: Path, out: Path):
        from ner_spark.plans.checkpoint import run_kg_checkpointed

        triples = run_kg_checkpointed(self.spark, self.data.files, str(root), self.data.gazetteer)
        triples.write.mode("overwrite").partitionBy("pred").parquet(str(out))

    def build_resume_state(self) -> None:
        """The state a kill between the triples data write and its manifest
        commit leaves: profiles committed, triples data without manifest."""
        from ner_spark.plans.checkpoint import run_kg_checkpointed

        self.pristine = self.run_dir / "pristine"
        run_kg_checkpointed(self.spark, self.data.files, str(self.pristine), self.data.gazetteer)
        (self.pristine / "triples" / "manifest.json").unlink()

    def fresh_dirs(self, label: str) -> tuple[Path, Path]:
        root, out = self.run_dir / f"{label}-ckpt", self.run_dir / f"{label}-out"
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        if self.pristine is not None:
            shutil.copytree(self.pristine, root)
        return root, out


def manifests(root: Path) -> dict[str, str]:
    return {p.parent.name: p.read_text() for p in sorted(root.glob("*/manifest.json"))}


def output_fingerprint(spark, out: str) -> dict[str, list[int]]:
    """Per predicate: [rows, sum crc32, sum crc32(md5 hex)] of one output
    dir, the numbers corpus.fingerprint computes over the oracle."""
    from pyspark.sql import functions as F

    line = F.concat_ws(corpus_mod.SEP, "subj", "pred", "obj")
    rows = (
        spark.read.parquet(out)
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(line)).alias("c"),
             F.sum(F.crc32(F.md5(line))).alias("m"))
        .collect()
    )
    return {r["pred"]: [int(r["n"]), int(r["c"]), int(r["m"])] for r in rows}


def run_iteration(job: KgJob, label: str, pid: int) -> dict:
    root, out = job.fresh_dirs(label)
    before = manifests(root)
    rec = {"label": label}
    cpu0 = proctree.cpu_ticks(pid)
    t_unix, t0 = time.time(), time.perf_counter()
    try:
        job.run(root, out)
    except Exception as e:  # counted as a failed operation, run continues
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = proctree.cpu_seconds_between(cpu0, proctree.cpu_ticks(pid))
    rec["started_unix"] = t_unix
    rec["root"], rec["out"], rec["before"] = str(root), str(out), before
    return rec


def timed_loop(job: KgJob, seconds: float, prefix: str, pid: int, sc=None) -> tuple[list[dict], int]:
    """Warm iterations until `seconds` have passed (at least MIN_ITERS);
    returns their records and the tree's peak RSS over the loop."""
    recs: list[dict] = []
    fails = 0
    with proctree.PeakRss(pid) as rss:
        t_begin = time.perf_counter()
        while len(recs) < MIN_ITERS or time.perf_counter() - t_begin < seconds:
            label = f"{prefix}{len(recs)}"
            if sc is not None:
                sc.setJobGroup(label, label)
            recs.append(run_iteration(job, label, pid))
            fails = fails + 1 if "error" in recs[-1] else 0
            if fails >= MAX_CONSECUTIVE_FAILURES:
                break
    return recs, rss.peak


def warm_up(job: KgJob, seconds: float, since: float) -> None:
    """Full iterations, discarded, until `seconds` have passed since
    `since`. At these corpus sizes one iteration leaves the JIT still
    compiling: the next two run up to 1.5x slower than later ones."""
    while True:
        root, out = job.fresh_dirs("warmup")
        job.run(root, out)
        if time.perf_counter() - since >= seconds:
            break
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


def verify(job: KgJob, recs: list[dict]) -> None:
    """Oracle check of every iteration's output (outside the timed region);
    sets rec["ok"] and the stage-reuse counts, then drops the dirs."""
    for rec in recs:
        root, out, before = Path(rec.pop("root")), rec.pop("out"), rec.pop("before")
        if "error" not in rec:
            try:
                got = output_fingerprint(job.spark, out)
            except Exception as e:
                rec["error"] = f"verify: {type(e).__name__}: {e}"[:500]
            else:
                after = manifests(root)
                reused = [s for s, m in before.items() if after.get(s) == m]
                rec["stages_reused"], rec["stages_total"] = len(reused), len(after)
                rec["triples"] = sum(v[0] for v in got.values())
                problems = []
                if got != job.data.oracle:
                    problems.append(f"output differs from oracle: got {got}, want {job.data.oracle}")
                if job.mode == "resume":
                    fresh = [s for s in after if s not in before]
                    if reused != ["profiles"] or fresh != ["triples"]:
                        problems.append(f"resume reused {reused} and recomputed {fresh}")
                    elif json.loads(after["triples"]).get("completed_at_unix", 0) < rec["started_unix"]:
                        problems.append("triples manifest predates the iteration")
                if problems:
                    rec["error"] = "; ".join(problems)[:2000]
        rec["ok"] = "error" not in rec
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# traced run: one call per layer
# ---------------------------------------------------------------------------

def _dir_bytes(path: Path, pattern: str = "*.parquet") -> tuple[int, int]:
    files = [p for p in path.rglob(pattern) if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def layer_calls(spark, job: KgJob, run_dir: Path) -> tuple[dict, dict]:
    """Times one call into each layer's public function, each under its
    own job group, and gathers the counts that go with them."""
    from pyspark.sql import functions as F

    from ner_spark.operators.mentions import file_profiles
    from ner_spark.operators.triples import DECL_RE, all_triples_from_profiles
    from ner_spark.plans.checkpoint import run_kg_checkpointed
    from ner_spark.plans.pipeline import extract_triples, with_file_key

    sc = spark.sparkContext
    files, gaz = job.data.files, job.data.gazetteer
    root, out = run_dir / "layers-ckpt", run_dir / "layers-out"
    walls: dict[str, float] = {}

    def timed(group, fn):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        result = fn()
        walls[group] = time.perf_counter() - t0
        return result

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def keyed():
        return with_file_key(spark.read.parquet(files))

    timed("scan", lambda: noop(keyed().select("file_key", "repo", "content")))
    timed("mentions", lambda: noop(file_profiles(keyed(), gaz, DECL_RE)))
    timed("checkpoint", lambda: run_kg_checkpointed(spark, files, str(root), gaz))
    triples = timed("validate", lambda: run_kg_checkpointed(spark, files, str(root), gaz))
    timed("triples", lambda: noop(all_triples_from_profiles(spark.read.parquet(str(root / "profiles" / "data")))))
    timed("pipeline", lambda: noop(extract_triples(spark.read.parquet(files), gaz)))
    timed("output", lambda: triples.write.mode("overwrite").partitionBy("pred").parquet(str(out)))

    sc.setJobGroup("counts", "counts")
    k = F.size("entities")
    prof = spark.read.parquet(str(root / "profiles" / "data")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(k).alias("ents"),
        F.sum(k * (k - 1) / 2).alias("pairs"),
        F.sum(F.size("symbols")).alias("syms"),
    ).collect()[0]
    trip_rows = spark.read.parquet(str(root / "triples" / "data")).count()
    ckpt_bytes, _ = _dir_bytes(root)
    out_bytes, out_files = _dir_bytes(out)
    counts = {
        "profiles_rows": int(prof["rows"]),
        "entities_out": int(prof["ents"]),
        "pairs_in": int(prof["pairs"]),
        "candidates": int(prof["ents"]) + int(prof["pairs"]) + int(prof["syms"]),
        "triples_rows": int(trip_rows),
        "checkpoint_bytes": ckpt_bytes,
        "output_bytes": out_bytes,
        "output_files": out_files,
    }
    counts["layers_output_ok"] = output_fingerprint(spark, str(out)) == job.data.oracle
    return walls, counts


def layer_table(log, walls: dict, counts: dict, traced: list[dict], untraced_tps: float,
                traced_tps: float, setup_s: float) -> tuple[dict, list[str]]:
    """Per-layer metrics under their published names, and the names
    Spark did not supply on the host it ran on."""
    metrics: dict[str, float] = {}
    missing: list[str] = []

    def put(name, value):
        if value is None:
            missing.append(name)
        else:
            metrics[name] = value

    put("session.start_s", setup_s)
    put("scan.read_s", walls["scan"])
    put("scan.bytes", (log.node_metrics("scan", "Scan parquet") or {}).get("size of files read"))
    put("mentions.profiles_s", walls["mentions"])
    put("mentions.kernel_self_s", walls["mentions"] - walls["scan"])
    put("mentions.rows_out", counts["profiles_rows"])
    put("mentions.entities_out", counts["entities_out"])
    py = log.node_metrics("mentions", "MapInPandas") or {}
    for name, key in (("py_run_s", "time to run Python workers"),
                      ("py_boot_s", "time to start Python workers"),
                      ("py_bytes_sent", "data sent to Python workers"),
                      ("py_bytes_received", "data returned from Python workers")):
        put(f"mentions.{name}", py.get(key))
    ck_jobs = log.group_jobs("checkpoint")
    put("checkpoint.run_s", walls["checkpoint"])
    put("checkpoint.write_s", log.job_seconds([j for j in ck_jobs if log.is_write(j)]))
    put("checkpoint.manifest_s", log.job_seconds([j for j in ck_jobs if not log.is_write(j)]))
    put("checkpoint.bytes_written", counts["checkpoint_bytes"])
    put("checkpoint.validate_s", walls["validate"])
    ok = [r for r in traced if r.get("ok")]
    put("checkpoint.stages_reused", ok[0]["stages_reused"] if ok else None)
    put("checkpoint.stages_total", ok[0]["stages_total"] if ok else None)
    tri = log.task_totals("triples")
    put("triples.derive_s", walls["triples"])
    put("triples.pairs_in", counts["pairs_in"])
    put("triples.rows_out", counts["triples_rows"])
    put("triples.distinct_ratio", counts["triples_rows"] / counts["candidates"] if counts["candidates"] else None)
    put("triples.shuffle_bytes", tri.get("shuffle_write_bytes"))
    put("triples.spill_bytes", tri.get("spill_bytes"))
    put("pipeline.extract_triples_s", walls["pipeline"])
    put("job.output_write_s", walls["output"])
    put("job.output_bytes", counts["output_bytes"])
    put("job.output_files", counts["output_files"])
    per_iter = [log.task_totals(r["label"]) for r in ok]
    for name, key in (("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
                      ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                      ("spark.spill_bytes", "spill_bytes")):
        vals = [t[key] for t in per_iter if key in t]
        put(name, statistics.median(vals) if vals else None)
    put("trace.untraced_triples_per_s", untraced_tps)
    put("trace.traced_triples_per_s", traced_tps)
    put("trace.overhead_triples_per_s", traced_tps - untraced_tps if traced_tps and untraced_tps else None)
    return metrics, missing


def median_tps(recs: list[dict]) -> float | None:
    vals = [r["triples"] / r["wall_s"] for r in recs if r.get("ok")]
    return statistics.median(vals) if vals else None


# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--run-dir", required=True, type=Path)
    p.add_argument("--result", required=True, type=Path)
    p.add_argument("--t-spawn", required=True, type=float, help="unix time the launcher spawned us")
    p.add_argument("--cpus", required=True, type=int)
    p.add_argument("--heap", required=True)
    p.add_argument("--corpus-dir", required=True, type=Path)
    p.add_argument("--mode", choices=["fresh", "resume"], default="fresh")
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    args.run_dir.mkdir(parents=True, exist_ok=True)
    (args.run_dir / "tmp").mkdir(exist_ok=True)
    pid = os.getpid()
    result: dict = {}
    spark = None

    def log(msg):
        print(f"perfbench worker: {time.time() - args.t_spawn:6.1f}s {msg}", file=sys.stderr, flush=True)

    try:
        spark = start_session(args, args.run_dir)
        spawn_python_workers(spark, args.cpus)
        result["setup_s"] = time.time() - args.t_spawn
        log("session up, Python workers spawned")

        data = corpus_mod.Corpus(args.corpus_dir)
        job = KgJob(spark, data, args.mode, args.run_dir)
        phases = result["phases_s"] = {}
        t = time.perf_counter()
        if args.mode == "resume":
            job.build_resume_state()
        warm_up(job, args.seconds, t)
        phases["warmup"], t = time.perf_counter() - t, time.perf_counter()
        recs, peak = timed_loop(job, args.seconds, "iter", pid)
        phases["timed"], t = time.perf_counter() - t, time.perf_counter()
        verify(job, recs)
        phases["verify"] = time.perf_counter() - t
        log(f"{len(recs)} timed iterations verified; phases {phases}")
        result.update(iterations=recs, peak_rss_bytes=peak)
        if not args.trace:
            return _write(args.result, result)

        # traced pass: a new SparkContext in the same JVM with the event log on
        spark.stop()
        log_dir = args.run_dir / "eventlog"
        spark = start_session(args, args.run_dir, event_log=log_dir)
        job.spark = spark
        warm_up(job, args.seconds, time.perf_counter())
        traced, _ = timed_loop(job, args.seconds, "trace", pid, sc=spark.sparkContext)
        walls, counts = layer_calls(spark, job, args.run_dir)
        verify(job, traced)
        spark.stop()
        spark = None
        from perfbench.eventlog import EventLog

        (log_file,) = [f for f in log_dir.iterdir() if not f.name.endswith(".inprogress")]
        events = EventLog(log_file)
        metrics, missing = layer_table(events, walls, counts, traced, median_tps(recs),
                                       median_tps(traced), result["setup_s"])
        result.update(traced=traced, layers=metrics, missing=missing,
                      layers_output_ok=counts["layers_output_ok"])
        return _write(args.result, result)
    finally:
        if spark is not None:
            spark.stop()
        log("session stopped")


def _write(path: Path, result: dict) -> int:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(result))
    tmp.rename(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
