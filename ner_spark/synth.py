"""Deterministic synthetic source-code corpus (the `files` table).

Authoritative input shape per BASELINE.json `input_hint`:
``(repo string, path string, commit string, lang string, content string)``.

Generation is a pure function of ``(seed, file_id)`` executed
*distributed* via ``mapInPandas`` over ``spark.range`` — no driver-side
materialization, so the same generator scales from 100 files (tests) to
10^12 files (the target tier) by changing one number. Content embeds
known gazetteer aliases and symbol declarations so golden triples are
computable by the pure-Python oracle below (``golden_triples_for_file``)
— the analog of the reference's golden-labelled held-out sets
(my_ner.py:1025-1105).

Skew is intentional (FIXTURES.md F4): repo ``repo_mega`` owns ~50% of
files, exercising salted shuffles and AQE skew-join splitting.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42

# ---------------------------------------------------------------------------
# Gazetteer: (alias, entity, ent_type). The dictionary the mention
# detector matches against — the generalization of the reference's
# char->id / char->radical dictionaries (my_ner.py:119-183) to an
# alias->entity table. Aliases include near-duplicate surface forms so
# the similarity join / canonicalization stages have real work.
# ---------------------------------------------------------------------------

_ENTITIES: list[tuple[str, str, list[str]]] = [
    # (canonical, type, extra aliases)
    ("tensorflow", "LIB", ["tf", "tensor_flow"]),
    ("pytorch", "LIB", ["torch"]),
    ("numpy", "LIB", ["np"]),
    ("pandas", "LIB", ["pd"]),
    ("spark", "LIB", ["pyspark", "apache_spark"]),
    ("hadoop", "LIB", ["apache_hadoop"]),
    ("kafka", "LIB", ["apache_kafka"]),
    ("flink", "LIB", ["apache_flink"]),
    ("arrow", "LIB", ["pyarrow"]),
    ("parquet", "FMT", ["apache_parquet"]),
    ("iceberg", "FMT", ["apache_iceberg"]),
    ("avro", "FMT", []),
    ("orc", "FMT", []),
    ("protobuf", "FMT", ["proto3"]),
    ("thrift", "FMT", []),
    ("grpc", "LIB", []),
    ("redis", "DB", []),
    ("postgres", "DB", ["postgresql", "pgsql"]),
    ("mysql", "DB", ["mariadb"]),
    ("sqlite", "DB", ["sqlite3"]),
    ("cassandra", "DB", []),
    ("mongodb", "DB", ["mongo"]),
    ("duckdb", "DB", []),
    ("clickhouse", "DB", []),
    ("elasticsearch", "DB", ["opensearch"]),
    ("kubernetes", "TOOL", ["k8s"]),
    ("docker", "TOOL", []),
    ("terraform", "TOOL", []),
    ("ansible", "TOOL", []),
    ("jenkins", "TOOL", []),
    ("airflow", "TOOL", ["apache_airflow"]),
    ("dbt", "TOOL", []),
    ("sklearn", "LIB", ["scikit_learn"]),
    ("xgboost", "LIB", ["xgb"]),
    ("lightgbm", "LIB", ["lgbm"]),
    ("keras", "LIB", []),
    ("jax", "LIB", []),
    ("scipy", "LIB", []),
    ("matplotlib", "LIB", ["pyplot"]),
    ("graphql", "LANG", []),
    ("javascript", "LANG", ["js", "ecmascript"]),
    ("typescript", "LANG", ["ts"]),
    ("rustlang", "LANG", ["rust"]),
    ("golang", "LANG", ["go"]),
    ("python", "LANG", ["py", "cpython"]),
    ("java", "LANG", ["jvm"]),
    ("scala", "LANG", []),
    ("haskell", "LANG", ["ghc"]),
    ("kotlin", "LANG", []),
    ("zookeeper", "TOOL", ["zk"]),
]


def gazetteer_rows() -> list[tuple[str, str, str]]:
    """(alias, entity, ent_type) rows; canonical name is its own alias."""
    rows = []
    for canonical, etype, extras in _ENTITIES:
        rows.append((canonical, canonical, etype))
        for a in extras:
            rows.append((a, canonical, etype))
    return rows


def gazetteer_df(spark: SparkSession) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("alias", T.StringType(), False),
            T.StructField("entity", T.StringType(), False),
            T.StructField("ent_type", T.StringType(), False),
        ]
    )
    return spark.createDataFrame(gazetteer_rows(), schema)


_ALIASES = [r[0] for r in gazetteer_rows()]
_ALIAS2ENT = {r[0]: r[1] for r in gazetteer_rows()}

_LANGS = ["python", "python", "python", "java", "go", "text"]


def _file_rng(file_id: int) -> np.random.Generator:
    # splitmix-style mix of (SEED, file_id): stable across partitioning
    return np.random.default_rng((SEED << 32) ^ (file_id * 0x9E3779B97F4A7C15 % (1 << 63)))


def _gen_one(file_id: int) -> tuple[str, str, str, str, str]:
    """Pure function file_id -> (repo, path, commit, lang, content)."""
    rng = _file_rng(file_id)
    # skew: half the corpus lives in one mega-repo
    repo = "repo_mega" if file_id % 2 == 0 else f"repo_{file_id % 97:03d}"
    lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
    path = f"src/pkg_{file_id % 37}/mod_{file_id}.{ {'python': 'py', 'java': 'java', 'go': 'go', 'text': 'txt'}[lang] }"

    n_ents = int(rng.integers(2, 6))
    ents = [_ALIASES[int(i)] for i in rng.choice(len(_ALIASES), size=n_ents, replace=False)]
    n_defs = int(rng.integers(1, 4))
    defs = [f"fn_{file_id}_{i}" for i in range(n_defs)]
    classes = [f"Cls_{file_id}_{i}" for i in range(int(rng.integers(0, 2)))]

    lines = [f"# module mod_{file_id} — uses {' and '.join(ents[:2])}"]
    for e in ents:
        lines.append(f"import {e}")
    for c in classes:
        lines.append(f"class {c}:")
        lines.append(f"    backend = '{ents[int(rng.integers(0, n_ents))]}'")
    for d in defs:
        lines.append(f"def {d}(x):")
        lines.append(f"    # calls into {ents[int(rng.integers(0, n_ents))]}")
        lines.append(f"    return {ents[int(rng.integers(0, n_ents))]}.run(x + {int(rng.integers(0, 1000))})")
    # filler lines so files have realistic, varied sizes
    for i in range(int(rng.integers(3, 20))):
        lines.append(f"VALUE_{i} = {int(rng.integers(0, 10 ** 6))}")
    content = "\n".join(lines) + "\n"
    commit = hashlib.sha1(f"{SEED}:{file_id}".encode()).hexdigest()
    return repo, path, commit, lang, content


FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def synth_files(spark: SparkSession, n_files: int, parallelism: int | None = None) -> DataFrame:
    """Distributed deterministic `files` table: one row per file_id in [0, n)."""
    parallelism = parallelism or min(n_files, 64) or 1

    def gen(batches):
        for pdf in batches:
            rows = [_gen_one(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return spark.range(0, n_files, numPartitions=parallelism).mapInPandas(gen, FILES_SCHEMA)


def n_files_for_sf(sf: float) -> int:
    """sf0.001 -> 100 files, sf0.01 -> 1k, sf0.1 -> 10k (scale-linear)."""
    return max(int(sf * 100_000), 10)


# ---------------------------------------------------------------------------
# Pure-Python golden oracle (driver-side, small n only) — the
# reference-semantics triples the pipeline must match at P/R >= 0.95.
# ---------------------------------------------------------------------------

def golden_triples_for_file(file_id: int) -> set[tuple[str, str, str]]:
    repo, path, commit, lang, content = _gen_one(file_id)
    import re

    # a mention is a maximal [A-Za-z0-9_]+ run equal to an alias, so
    # `tf` in `3tf` is not one
    toks = set(re.findall(r"[A-Za-z0-9_]+", content))
    ents = sorted({_ALIAS2ENT[t] for t in toks if t in _ALIAS2ENT})
    trips: set[tuple[str, str, str]] = set()
    for e in ents:
        trips.add((repo, "CONTAINS", e))
    for a, b in itertools.combinations(ents, 2):
        trips.add((a, "COOCCURS", b))
    for m in re.finditer(r"^(?:def|class|func|void|public\s+\w+)\s+([A-Za-z_][A-Za-z0-9_]*)", content, re.M):
        trips.add((f"{repo}/{path}", "DECLARES", m.group(1)))
    return trips


def golden_triples(n_files: int) -> set[tuple[str, str, str]]:
    out: set[tuple[str, str, str]] = set()
    for i in range(n_files):
        out |= golden_triples_for_file(i)
    return out
