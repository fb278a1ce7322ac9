"""Checkpoint / lineage / exact-resume layer (north rule: "every stage
checkpoints per-partition lineage and counters to allow exact resume").

Design — the Spark generalization of the reference's
checkpoint-every-5-epochs (my_ner.py:1604-1605) and its file-to-file
ETL chain (wiki_process -> t2s -> clean -> radical, each stage a
process boundary over on-disk files, README "The wiki corpus"):

  - every stage materializes to parquet under `<root>/<stage>/data`;
  - a manifest JSON (written atomically AFTER the data commit) records
    the input fingerprint, row counters, per-output-file row counts
    (the per-partition lineage), an order-insensitive content checksum,
    and wall time;
  - resume = re-run the same pipeline call: stages whose manifest is
    complete AND whose input fingerprint matches are loaded from
    parquet, everything downstream of the first invalid stage is
    recomputed. A crash between data write and manifest write leaves
    no manifest -> the stage re-runs. Exactness comes from the content
    checksum: it is a commutative reduction over row hashes, so it is
    identical at any parallelism.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def content_checksum(df: DataFrame) -> int:
    """Order-insensitive checksum: bit_xor of per-row xxhash64 over all
    columns. Partitioning-invariant (commutative reduction), cheap
    (one agg, map-side partial), overflow-free under ANSI mode, and
    collision-safe enough for resume validation."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    out = df.selectExpr(f"bit_xor(xxhash64({cols})) AS c").collect()[0]["c"]
    return int(out) if out is not None else 0


class PipelineCheckpointer:
    """Named-stage checkpoint runner over a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # stages actually computed (not resumed) in this run — the
        # resume tests and ops dashboards read this.
        self.computed: list[str] = []

    def _dirs(self, stage: str) -> tuple[Path, Path]:
        d = self.root / stage
        return d / "data", d / "manifest.json"

    def manifest(self, stage: str) -> dict | None:
        _, man = self._dirs(stage)
        if not man.exists():
            return None
        return json.loads(man.read_text())

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        input_fingerprint: str | int = "",
    ) -> DataFrame:
        """Run (or resume) one stage; returns the checkpointed frame.

        `input_fingerprint` should be the upstream stage's content
        checksum (or a config/source hash) so that changed inputs
        invalidate this stage and everything after it.
        """
        data, man = self._dirs(name)
        m = self.manifest(name)
        if (
            m is not None
            and m.get("status") == "complete"
            and str(m.get("input_fingerprint")) == str(input_fingerprint)
        ):
            return self.spark.read.parquet(str(data))

        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(str(data))
        out = self.spark.read.parquet(str(data))

        # per-partition lineage: rows per physical output file, plus
        # total counters and the order-insensitive content checksum
        per_file = {
            Path(r["f"]).name: r["rows"]
            for r in out.groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        }
        checksum = content_checksum(out)
        manifest = {
            "stage": name,
            "status": "complete",
            "input_fingerprint": str(input_fingerprint),
            "rows_out": int(sum(per_file.values())),
            "n_output_files": len(per_file),
            "per_file_rows": per_file,
            "content_checksum": checksum,
            "columns": out.columns,
            "wall_s": round(time.perf_counter() - t0, 3),
            "completed_at_unix": time.time(),
        }
        tmp = man.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=2, sort_keys=True))
        tmp.rename(man)  # atomic commit: manifest appears only when done
        self.computed.append(name)
        return out

    def checksum_of(self, stage: str) -> int:
        m = self.manifest(stage)
        if m is None:
            raise KeyError(f"no manifest for stage {stage!r}")
        return m["content_checksum"]


def input_listing_fingerprint(spark: SparkSession, path: str) -> str:
    """md5 over (path, size, mtime) of every file under `path`, listed
    through the Hadoop FileSystem so cluster paths work. An input
    rewritten in place under the same path changes its listing."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    it = fs.listFiles(root, True)
    listing = []
    while it.hasNext():
        st = it.next()
        listing.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return hashlib.md5(repr(sorted(listing)).encode()).hexdigest()


def run_kg_checkpointed(
    spark: SparkSession,
    files_path: str,
    root: str,
    gazetteer: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Resumable KG pipeline: files parquet -> profiles -> triples.

    Stage DAG (each a parquet checkpoint + manifest):
      profiles  — the single-pass content scan (the expensive stage)
      triples   — explode/distinct derivations from profiles

    Re-running after a crash skips every completed stage whose input
    fingerprint still matches; changing the input files (listing:
    names, sizes, mtimes) or the gazetteer invalidates from the top.
    """
    from ner_spark import synth
    from ner_spark.operators.mentions import file_profiles
    from ner_spark.operators.triples import DECL_RE, all_triples_from_profiles
    from ner_spark.plans.pipeline import with_file_key

    gaz = gazetteer if gazetteer is not None else synth.gazetteer_rows()
    cp = PipelineCheckpointer(spark, root)

    # NOT builtin hash(): that is salted per-process, which would
    # invalidate every resume
    gaz_fp = hashlib.md5(repr(sorted(gaz)).encode()).hexdigest()
    src_fp = f"{input_listing_fingerprint(spark, files_path)}|{gaz_fp}"

    profiles = cp.stage(
        "profiles",
        lambda: file_profiles(
            with_file_key(spark.read.parquet(files_path)), gaz, DECL_RE
        ),
        input_fingerprint=src_fp,
    )
    triples = cp.stage(
        "triples",
        lambda: all_triples_from_profiles(profiles),
        input_fingerprint=cp.checksum_of("profiles"),
    )
    return triples
