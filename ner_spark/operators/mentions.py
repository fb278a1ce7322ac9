"""Gazetteer mention detection — the KG analog of the reference's
char-level tagger (SURVEY §2.5 M1–M8).

A mention is a boundary-anchored, leftmost-longest occurrence of a
gazetteer alias, where a boundary is any character outside
``[A-Za-z0-9_]``. One matcher (``matcher``) implements it, built once
per gazetteer per Python worker:

- identifier-only gazetteer (every alias one ``[A-Za-z0-9_]+`` run):
  a boundary-anchored alias match is exactly a maximal word run equal
  to an alias, so matching is a token scan plus a set lookup;
- otherwise (aliases such as ``scikit-learn``): a boundary-anchored
  alternation regex, longest alias first.

Everything else is a thin mapInPandas over that matcher:

- ``profile_rows`` — the per-file kernel: (file_key, repo, sorted
  entities, sorted declared symbols). ``file_profiles`` (the
  checkpointed job's expensive stage) and
  ``triples.triples_direct`` (the fused plan behind
  ``pipeline.extract_triples``) both run it.
- ``mention_spans`` — exact char spans per mention.
- ``bio_tags_for_files`` reproduces the reference's sentence->tag-list
  shape (my_ner.py:88-96): per file, an array of tokens and an aligned
  array of BIO tags, with BIO validity enforced by construction (B- on
  the first token of a span, I- inside — the hard-coded analog of the
  learned transition constraints at my_ner.py:550-556).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ner_spark.functions.text import TOKEN_RE

WORD_RE = re.compile(r"[A-Za-z0-9_]+")

Gazetteer = tuple[tuple[str, str, str], ...]


class Matcher:
    """Boundary-anchored gazetteer matcher over (alias, entity,
    ent_type) rows."""

    def __init__(self, gaz: Gazetteer):
        self.alias_map = {a: (e, t) for a, e, t in gaz}
        self._alias_set = frozenset(self.alias_map)
        self.pattern: re.Pattern | None = None
        if not all(WORD_RE.fullmatch(a) for a in self.alias_map):
            self.pattern = re.compile(
                r"(?<![A-Za-z0-9_])("
                + "|".join(re.escape(a) for a in sorted(self.alias_map, key=len, reverse=True))
                + r")(?![A-Za-z0-9_])"
            )

    def spans(self, text: str) -> Iterator[tuple[int, int, str]]:
        """(begin, end, alias) of every mention, left to right."""
        if self.pattern is None:
            for m in WORD_RE.finditer(text):
                if m.group() in self.alias_map:
                    yield m.start(), m.end(), m.group()
        else:
            for m in self.pattern.finditer(text):
                yield m.start(1), m.end(1), m.group(1)

    def aliases(self, text: str) -> frozenset[str]:
        """The distinct aliases mentioned in `text`."""
        if self.pattern is None:
            return self._alias_set.intersection(WORD_RE.findall(text))
        return frozenset(self.pattern.findall(text))


@functools.lru_cache(maxsize=8)
def matcher(gaz: Gazetteer) -> Matcher:
    """The matcher for a sorted gazetteer tuple, cached per process."""
    return Matcher(gaz)


def profile_rows(
    pdf: pd.DataFrame, gaz: Gazetteer, decl_re: str
) -> Iterator[tuple[str, str, list[str], list[str]]]:
    """Per file of a (file_key, repo, content) batch: (file_key, repo,
    sorted distinct entities, sorted distinct declared symbols)."""
    m = matcher(gaz)
    dre = re.compile(decl_re, re.M)
    for key, repo, text in zip(pdf["file_key"], pdf["repo"], pdf["content"]):
        ents = sorted({m.alias_map[a][0] for a in m.aliases(text)})
        syms = sorted({d.group(1) for d in dre.finditer(text)})
        yield key, repo, ents, syms


MENTION_SCHEMA = T.StructType(
    [
        T.StructField("file_key", T.StringType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("entity", T.StringType(), False),
        T.StructField("ent_type", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def mention_spans(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]],
    key_col: str = "file_key",
    content_col: str = "content",
) -> DataFrame:
    """Exact char-offset mentions via the gazetteer matcher.

    Input must carry a stable `key_col` (content-derived — never
    monotonically_increasing_id — so output is partitioning-invariant,
    SURVEY §4 determinism rule).
    """
    gaz = tuple(sorted(gazetteer))

    def run(batches):
        m = matcher(gaz)
        for pdf in batches:
            out = {k: [] for k in ("file_key", "begin", "end", "surface", "entity", "ent_type", "score")}
            for key, text in zip(pdf[key_col], pdf[content_col]):
                for b, e, alias in m.spans(text):
                    ent, etype = m.alias_map[alias]
                    out["file_key"].append(key)
                    out["begin"].append(b)
                    out["end"].append(e)
                    out["surface"].append(alias)
                    out["entity"].append(ent)
                    out["ent_type"].append(etype)
                    out["score"].append(1.0)
            yield pd.DataFrame(out)

    return files.select(F.col(key_col), F.col(content_col)).mapInPandas(run, MENTION_SCHEMA)


PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("file_key", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("entities", T.ArrayType(T.StringType()), False),
        T.StructField("symbols", T.ArrayType(T.StringType()), False),
    ]
)


def file_profiles(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]],
    decl_re: str,
) -> DataFrame:
    """Single-pass per-file profile: (file_key, repo, entities, symbols).

    ONE pass over `content` (``profile_rows``) extracts both the
    distinct entity set and the declared symbols. Downstream triple
    families are cheap array explodes over this small table
    (triples.all_triples_from_profiles), so the `content` column is
    read and scanned exactly once. Arrays are sorted distinct —
    deterministic at any parallelism.
    """
    gaz = tuple(sorted(gazetteer))

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                list(profile_rows(pdf, gaz, decl_re)),
                columns=["file_key", "repo", "entities", "symbols"],
            )

    return files.select("file_key", "repo", "content").mapInPandas(run, PROFILE_SCHEMA)


BIO_SCHEMA = T.StructType(
    [
        T.StructField("file_key", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("bio_tags", T.ArrayType(T.StringType()), False),
    ]
)


def bio_tags_for_files(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]],
    key_col: str = "file_key",
    content_col: str = "content",
) -> DataFrame:
    """Per file: aligned (tokens, BIO tags) arrays — the reference's
    (char_list, tag_list) sentence shape at file grain.

    Multi-token aliases produce B-TYPE I-TYPE...; unmatched tokens 'O'.
    BIO validity holds by construction (no orphan I-).
    """
    gaz = tuple(sorted(gazetteer))
    token_pat = re.compile(TOKEN_RE)

    def run(batches):
        m = matcher(gaz)
        for pdf in batches:
            keys, tok_col, tag_col = [], [], []
            for key, text in zip(pdf[key_col], pdf[content_col]):
                toks = [(t.start(), t.end(), t.group(0)) for t in token_pat.finditer(text)]
                tags = ["O"] * len(toks)
                ti = 0
                for b, e, alias in m.spans(text):
                    etype = m.alias_map[alias][1]
                    while ti < len(toks) and toks[ti][1] <= b:
                        ti += 1
                    first = True
                    tj = ti
                    while tj < len(toks) and toks[tj][0] < e:
                        tags[tj] = ("B-" if first else "I-") + etype
                        first = False
                        tj += 1
                keys.append(key)
                tok_col.append([t[2] for t in toks])
                tag_col.append(tags)
            yield pd.DataFrame({"file_key": keys, "tokens": tok_col, "bio_tags": tag_col})

    return files.select(F.col(key_col), F.col(content_col)).mapInPandas(run, BIO_SCHEMA)
