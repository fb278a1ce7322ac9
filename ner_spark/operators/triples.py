"""Triple materialization: (subj, pred, obj) — the pipeline's output
contract (BASELINE.json north_star):

  - repo   CONTAINS  entity      (repo-level entity inventory)
  - entity COOCCURS  entity      (within-file co-occurrence, e1 < e2)
  - file   DECLARES  symbol      (lang-aware declaration regexes)

Both plans that make these families start from the per-file kernel
``mentions.profile_rows``:

  - ``*_from_profiles`` derive them from the checkpointed
    ``file_profiles`` table (the resumable job);
  - ``triples_direct`` expands them batch-locally inside the kernel's
    own pass (the fused plan behind ``pipeline.extract_triples``).

The pair count per file is bounded by (entities-per-file choose 2),
not by file size.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_spark.operators.mentions import profile_rows

# shared with synth.golden_triples_for_file and the DuckDB oracles
DECL_RE = r"(?m)^(?:def|class|func|void|public\s+\w+)\s+([A-Za-z_][A-Za-z0-9_]*)"

# declaration HEADER (no capture) — stripped before callsite extraction
# so `def f(x):` does not read as a call of f. RE2-compatible (the
# DuckDB oracle runs the same pattern); no lookbehind, which RE2 lacks.
DECL_HEAD_RE = r"(?m)^(?:def|class|func|void|public\s+\w+)\s+[A-Za-z_][A-Za-z0-9_]*"

# callsite: identifier immediately followed by an open paren
CALL_RE = r"([A-Za-z_][A-Za-z0-9_]*)\s*\("

# import header: `import x` / `from x import y` — captures the module
IMPORT_RE = r"(?m)^(?:import|from)\s+([A-Za-z_][A-Za-z0-9_.]*)"


def declares_triples(files: DataFrame, key_col: str = "file_key",
                     content_col: str = "content") -> DataFrame:
    """file DECLARES symbol — native regexp_extract_all + explode.

    Stays entirely in the JVM; the scan reads only (repo, path,
    content) and Catalyst prunes the rest.
    """
    return (
        files.select(
            F.concat_ws("/", "repo", "path").alias("subj"),
            F.explode(F.regexp_extract_all(F.col(content_col), F.lit(DECL_RE), 1)).alias("obj"),
        )
        .select("subj", F.lit("DECLARES").alias("pred"), "obj")
        .distinct()
    )


def calls_triples(files: DataFrame, content_col: str = "content") -> DataFrame:
    """file CALLS symbol — call-graph edge extraction (fourth triple
    family a code KG carries beyond CONTAINS/COOCCURS/DECLARES).

    Declaration headers are stripped first (regexp_replace with
    DECL_HEAD_RE) so `def f(x):` is not misread as a call of f; what
    remains of `<ident>(` is a callsite. Both regexes are RE2-safe —
    RE2 has no lookbehind, so the strip-then-extract two-step is the
    portable formulation, and it stays entirely in codegen: one scan,
    no UDF, distinct is the only exchange.
    """
    stripped = F.regexp_replace(F.col(content_col), DECL_HEAD_RE, "")
    return (
        files.select(
            F.concat_ws("/", "repo", "path").alias("subj"),
            F.explode(F.regexp_extract_all(stripped, F.lit(CALL_RE), 1)).alias("obj"),
        )
        .select("subj", F.lit("CALLS").alias("pred"), "obj")
        .distinct()
    )


def imports_triples(files: DataFrame, content_col: str = "content") -> DataFrame:
    """file IMPORTS module — dependency-edge extraction from import
    headers (`import x` / `from x import y`). Same shape as
    declares_triples: native regexp_extract_all + explode + distinct.
    """
    return (
        files.select(
            F.concat_ws("/", "repo", "path").alias("subj"),
            F.explode(
                F.regexp_extract_all(F.col(content_col), F.lit(IMPORT_RE), 1)
            ).alias("obj"),
        )
        .select("subj", F.lit("IMPORTS").alias("pred"), "obj")
        .distinct()
    )


# ---------------------------------------------------------------------------
# profile-based derivations (the fast path): all three families from
# the single-pass (file_key, repo, entities, symbols) table — pure
# array explodes + distinct, no content re-scan, no self-join.
# ---------------------------------------------------------------------------

def contains_from_profiles(profiles: DataFrame) -> DataFrame:
    return (
        profiles.select("repo", F.explode("entities").alias("obj"))
        .distinct()
        .select(F.col("repo").alias("subj"), F.lit("CONTAINS").alias("pred"), "obj")
    )


def cooccurs_from_profiles(profiles: DataFrame) -> DataFrame:
    """Ordered entity pairs per file. `entities` is sorted distinct, so
    pos_a < pos_b gives e1 < e2 with no self-join — pair expansion is
    O(k^2) per file with k = |entities| (tiny), not a corpus shuffle."""
    pairs = profiles.select(
        F.posexplode("entities").alias("ia", "subj"), F.col("entities")
    ).select("subj", F.explode(F.slice("entities", F.col("ia") + 2, F.size("entities"))).alias("obj"))
    return (
        pairs.distinct()
        .select("subj", F.lit("COOCCURS").alias("pred"), "obj")
    )


def declares_from_profiles(profiles: DataFrame) -> DataFrame:
    return (
        profiles.select(F.col("file_key").alias("subj"), F.explode("symbols").alias("obj"))
        .distinct()
        .select("subj", F.lit("DECLARES").alias("pred"), "obj")
    )


def all_triples_from_profiles(profiles: DataFrame) -> DataFrame:
    return (
        contains_from_profiles(profiles)
        .unionByName(cooccurs_from_profiles(profiles))
        .unionByName(declares_from_profiles(profiles))
    )


TRIPLE_SCHEMA = "subj string, pred string, obj string"


def triples_direct(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]],
    decl_re: str = DECL_RE,
) -> DataFrame:
    """(subj, pred, obj) straight out of the single content pass.

    Per batch, the ``profile_rows`` kernel's output is expanded into
    batch-locally-deduped CONTAINS/COOCCURS sets plus per-file-deduped
    DECLARES symbols; one global distinct dedupes across partitions
    with map-side partial aggregation. One scan and one exchange whose
    input is the batch-distinct triple stream, far below the token
    stream.

    Alternatives measured and rejected on this box (8M-file corpus,
    local[32]): split entity/declaration kernels (second content scan
    + Arrow decode cost more than the saved shuffle: 30.2s vs 22.6s)
    and persist-then-split-distinct (cache write/read of the triple
    stream outweighed the exchange it avoided: 28.7s). Composing
    ``all_triples_from_profiles(file_profiles(...))`` runs the kernel
    once per family branch.
    """
    gaz = tuple(sorted(gazetteer))

    def run(batches):
        for pdf in batches:
            contains: set[tuple[str, str]] = set()
            cooccurs: set[tuple[str, str]] = set()
            subjs, preds, objs = [], [], []
            for key, repo, ents, syms in profile_rows(pdf, gaz, decl_re):
                contains.update((repo, e) for e in ents)
                cooccurs.update(itertools.combinations(ents, 2))
                subjs += [key] * len(syms)
                objs += syms
            preds += ["DECLARES"] * len(subjs)
            for pairs, pred in ((contains, "CONTAINS"), (cooccurs, "COOCCURS")):
                for a, b in pairs:
                    subjs.append(a)
                    preds.append(pred)
                    objs.append(b)
            yield pd.DataFrame({"subj": subjs, "pred": preds, "obj": objs})

    return (
        files.select("file_key", "repo", "content")
        .mapInPandas(run, TRIPLE_SCHEMA)
        .distinct()
    )
