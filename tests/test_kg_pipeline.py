"""End-to-end KG pipeline tests: mention detection, BIO tagging,
triples vs the pure-Python golden oracle (P/R >= 0.95 north rule),
row invariant, and parallelism-invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.operators.mentions import Matcher, bio_tags_for_files, mention_spans
from ner_spark.plans import pipeline

N_FILES = 60


def _files(spark, n=N_FILES, parts=4):
    return synth.synth_files(spark, n, parallelism=parts)


def test_synth_deterministic_across_partitioning(spark):
    a = sorted(_files(spark, 40, 2).collect())
    b = sorted(_files(spark, 40, 8).collect())
    assert a == b


def test_content_sha256_invariant_through_pipeline(spark):
    """north rule: per-row content sha256 equality end-to-end."""
    import hashlib

    keyed = pipeline.with_file_key(_files(spark, 20))
    rows = keyed.select("content", "content_sha256").collect()
    assert len(rows) == 20
    for r in rows:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_mention_spans_exact_offsets(spark):
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "import numpy\nx = numpy.dot(tf)\nimport scikit-learn")],
        synth.FILES_SCHEMA,
    )
    keyed = pipeline.with_file_key(files)
    gaz = [("numpy", "numpy", "LIB"), ("tf", "tensorflow", "LIB")]
    want = [(7, 12, "numpy", "numpy"), (17, 22, "numpy", "numpy"), (27, 29, "tf", "tensorflow")]
    # a non-identifier alias puts the whole gazetteer on the regex path
    for extra, extra_want in (
        ([], []),
        ([("scikit-learn", "sklearn", "LIB")], [(38, 50, "scikit-learn", "sklearn")]),
    ):
        got = mention_spans(keyed, gaz + extra).collect()
        spans = sorted((r["begin"], r["end"], r["surface"], r["entity"]) for r in got)
        assert spans == want + extra_want


def test_mention_spans_word_boundaries(spark):
    # 'np' must not match inside 'numpy' / 'np2' / 'x_np'
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "numpy np np2 x_np np")], synth.FILES_SCHEMA
    )
    keyed = pipeline.with_file_key(files)
    got = mention_spans(keyed, [("np", "numpy", "LIB")]).collect()
    assert sorted((r["begin"], r["end"]) for r in got) == [(6, 8), (18, 20)]


def test_token_and_regex_matchers_agree():
    """Identifier-only gazetteer: the token scan gives the same spans
    and alias sets as the boundary-anchored alternation regex."""
    gaz = tuple(sorted(synth.gazetteer_rows()))
    token = Matcher(gaz)
    # an alias that never occurs forces the regex path
    regex = Matcher(tuple(sorted(gaz + (("scikit-learn", "sklearn", "LIB"),))))
    assert token.pattern is None and regex.pattern is not None
    texts = [synth._gen_one(i)[4] for i in range(200)] + ["3tf x_np np2 tf.tf numpy"]
    for text in texts:
        assert list(token.spans(text)) == list(regex.spans(text))
        assert token.aliases(text) == regex.aliases(text)
    assert list(token.spans(texts[-1])) == [(13, 15, "tf"), (16, 18, "tf"), (19, 24, "numpy")]


def test_bio_tags_validity_and_alignment(spark):
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "use apache_spark and numpy now")], synth.FILES_SCHEMA
    )
    keyed = pipeline.with_file_key(files)
    row = bio_tags_for_files(
        keyed, [("apache_spark", "spark", "LIB"), ("numpy", "numpy", "LIB")]
    ).first()
    assert row["tokens"] == ["use", "apache_spark", "and", "numpy", "now"]
    assert row["bio_tags"] == ["O", "B-LIB", "O", "B-LIB", "O"]
    # BIO validity: no I- following O or start
    prev = "O"
    for t in row["bio_tags"]:
        if t.startswith("I-"):
            assert prev.endswith(t[2:])
        prev = t


def test_triples_match_golden_oracle(spark):
    """North rule: triple P/R >= 0.95 vs reference-semantics oracle.

    The pipeline is exact-by-construction so we assert equality, which
    trivially implies P/R >= 0.95.
    """
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.extract_triples(_files(spark)).collect()
    }
    want = synth.golden_triples(N_FILES)
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95
    assert got == want


def test_triples_parallelism_invariant(spark):
    t2 = {
        tuple(r) for r in pipeline.extract_triples(_files(spark, 40, 2)).collect()
    }
    t8 = {
        tuple(r) for r in pipeline.extract_triples(_files(spark, 40, 8)).collect()
    }
    assert t2 == t8


def test_linked_pipeline_recovers_typo_mentions(spark):
    """extract_triples_linked: a typo'd alias ('tensorfow') yields the
    CONTAINS triple the exact automaton misses; junk identifiers stay
    NIL; exact triples are unchanged."""
    files = spark.createDataFrame(
        [
            ("r1", "a.py", "c", "python", "import tensorfow\ndef f_1(x):\n    return x\n"),
            ("r2", "b.py", "c", "python", "import numpy\nVALUE_7 = 3\n"),
        ],
        synth.FILES_SCHEMA,
    )
    exact = {tuple(r) for r in pipeline.extract_triples(files).collect()}
    linked = {tuple(r) for r in pipeline.extract_triples_linked(files).collect()}
    assert ("r1", "CONTAINS", "tensorflow") not in exact
    assert ("r1", "CONTAINS", "tensorflow") in linked
    assert ("r2", "CONTAINS", "numpy") in exact
    assert exact <= linked
    # junk identifiers must not link: the only additions are real recoveries
    extras = linked - exact
    assert extras == {("r1", "CONTAINS", "tensorflow")}


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert {"subj", "pred", "obj"} <= set(df.columns)
    assert df.count() > 0
