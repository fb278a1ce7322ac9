"""End-to-end KG pipeline: files -> mentions -> (link/canonicalize) -> triples.

Both triple plans run one per-file kernel (mentions.profile_rows):
``extract_triples`` fuses it with the triple expansion in one
mapInPandas pass plus one distinct; the resumable job
(plans/checkpoint.run_kg_checkpointed) checkpoints its output as
``file_profiles`` and derives the families from that table.
`file_key` is content-derived (repo/path) — never
monotonically_increasing_id — so results are identical at any
parallelism (north-rule determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.functions.text import content_sha256
from ner_spark.operators.triples import DECL_RE, triples_direct


def with_file_key(files: DataFrame) -> DataFrame:
    """Stable key + the sha256 row invariant (input_hint contract)."""
    return files.withColumn("file_key", F.concat_ws("/", "repo", "path")).withColumn(
        "content_sha256", content_sha256("content")
    )


def extract_triples(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """files(repo,path,commit,lang,content) -> distinct (subj,pred,obj).

    Physical shape (the minimal plan): ONE mapInPandas pass over
    `content` runs the per-file kernel (mentions.profile_rows: the
    gazetteer matcher plus the declaration regex) and expands its
    output into all three triple families batch-locally, then ONE
    distinct shuffle dedupes globally with map-side partial
    aggregation. The content column is scanned exactly once and the
    only exchanged data is the near-distinct triple stream.

    The resumable job runs the same kernel as ``file_profiles`` and
    derives the families with ``all_triples_from_profiles``, where the
    profile parquet is the checkpoint boundary (plans/checkpoint.py).
    """
    gaz = gazetteer if gazetteer is not None else synth.gazetteer_rows()
    keyed = with_file_key(files)
    return triples_direct(keyed, gaz, DECL_RE)


def extract_triples_linked(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]] | None = None,
    min_sim: float = 0.5,
) -> DataFrame:
    """Full north-star flow: exact triples + fuzzy entity linking.

    Tokens that match no gazetteer alias exactly are scored against the
    broadcast alias dictionary with char-3-gram similarity
    (operators/linking.link_surfaces); confident links (>= min_sim,
    non-NIL) contribute additional repo-CONTAINS-entity triples — the
    typo/morphological-variant recall path. COOCCURS/DECLARES stay
    exact (a fuzzy co-occurrence would compound two uncertain links).

    Scale shape: the candidate set is the *distinct unmatched
    vocabulary*, not the token stream — bounded by vocabulary size, so
    the similarity join is dictionary-sized no matter how large the
    corpus.
    """
    from ner_spark.functions.text import tokens as tok_expr
    from ner_spark.operators.linking import link_surfaces

    gaz = gazetteer if gazetteer is not None else synth.gazetteer_rows()
    keyed = with_file_key(files)
    exact = triples_direct(keyed, gaz, DECL_RE)

    spark = files.sparkSession
    gaz_df = spark.createDataFrame(gaz, "alias string, entity string, ent_type string")
    surf = keyed.select(
        "repo", F.explode(tok_expr("content")).alias("surface")
    ).distinct()
    unmatched = surf.join(
        F.broadcast(gaz_df.select(F.col("alias").alias("surface"))), "surface", "left_anti"
    )
    links = link_surfaces(
        unmatched.select("surface").distinct(), gaz_df, min_sim=min_sim
    ).filter(F.col("entity") != "NIL")
    fuzzy = (
        unmatched.join(F.broadcast(links), "surface")
        .select(
            F.col("repo").alias("subj"),
            F.lit("CONTAINS").alias("pred"),
            F.col("entity").alias("obj"),
        )
        .distinct()
    )
    return exact.unionByName(fuzzy).distinct()


def run_synthetic(spark: SparkSession, sf: float = 0.001) -> DataFrame:
    """Generate the synthetic corpus at `sf` and extract triples."""
    files = synth.synth_files(spark, synth.n_files_for_sf(sf))
    return extract_triples(files)
