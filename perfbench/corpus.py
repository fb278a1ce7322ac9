"""Seeded benchmark inputs and their pure-Python oracle.

Two corpora, both in the ``files`` shape ``(repo, path, commit, lang,
content)`` that ``run_kg_checkpointed`` reads:

- ``std``: ``ner_spark.synth``'s per-file distribution (86-alias
  gazetteer, 2-5 entities per file, half the files in ``repo_mega``).
  The seed picks a file-id window, ``[seed * STD_STRIDE, + n)``, so no
  generator code is duplicated or edited.
- ``dense``: a fixed ~3000-alias identifier-only gazetteer and 20-40
  Zipf-popular entities per file, so the matching automaton is large and
  pair expansion is heavy. The gazetteer and the popularity ranking do not
  depend on the seed (the automaton's cost depends on the alias set); the
  seed drives which entities each file mentions and the rest of its text.

The oracle never calls the pipeline. It tokenizes each file's content
(for identifier-only aliases, a boundary-anchored alias match is exactly
a maximal ``[A-Za-z0-9_]+`` run equal to an alias), and applies the
declaration regex. It is stored as an order-insensitive fingerprint per
predicate: row count, sum of CRC32 and sum of CRC32-of-hex-MD5 over
``subj \\x1f pred \\x1f obj`` lines. ``worker.output_fingerprint``
computes the same three numbers with Spark SQL over the job's output.

Inputs are cached under the work directory, keyed by corpus, size, seed
and ``GEN_VERSION``; the oracle is cached beside them. Bump
``GEN_VERSION`` whenever generation or oracle semantics change.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import multiprocessing
import os
import re
import shutil
import zlib
from pathlib import Path

import numpy as np

GEN_VERSION = 3
STD_STRIDE = 1 << 24
N_CHUNKS = 16
KEEP_INPUTS = 6  # cached inputs kept in the work dir, most recently used first
SEP = "\x1f"

TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")
# written out here, not imported, so the oracle stays independent of the
# pipeline's constant
DECL_RE = re.compile(r"^(?:def|class|func|void|public\s+\w+)\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)

_SYLLABLES = ["ka", "lo", "mi", "ru", "te", "sa", "no", "vi", "ze", "po",
              "qu", "xi", "da", "fe", "gu", "ho", "ja", "be", "ci", "wo"]
DENSE_ENTITIES = 2000
DENSE_EXTRA_ALIASES = 1000
DENSE_ZIPF_S = 1.1
_DENSE_TYPES = ["LIB", "DB", "TOOL", "FMT", "LANG"]


# ---------------------------------------------------------------------------
# gazetteers
# ---------------------------------------------------------------------------

def gazetteer(corpus: str, seed: int) -> list[tuple[str, str, str]]:
    if corpus == "std":
        from ner_spark import synth

        return synth.gazetteer_rows()
    if corpus == "dense":
        return _dense_gazetteer()
    raise ValueError(f"unknown corpus {corpus!r}")


def _dense_gazetteer() -> list[tuple[str, str, str]]:
    rng = np.random.default_rng([GEN_VERSION, 1])
    names = []
    for i in range(DENSE_ENTITIES):
        stem = "".join(_SYLLABLES[int(j)] for j in rng.integers(0, len(_SYLLABLES), size=3))
        names.append(f"{stem}_{i:04d}")
    rows = [(n, n, _DENSE_TYPES[i % len(_DENSE_TYPES)]) for i, n in enumerate(names)]
    for i in rng.choice(DENSE_ENTITIES, size=DENSE_EXTRA_ALIASES, replace=False):
        n = names[int(i)]
        alias = f"lib{n}" if i % 2 else f"{n}_core"
        rows.append((alias, n, _DENSE_TYPES[int(i) % len(_DENSE_TYPES)]))
    return rows


# ---------------------------------------------------------------------------
# file generation (one chunk of the corpus per call)
# ---------------------------------------------------------------------------

def _std_rows(seed: int, lo: int, hi: int):
    from ner_spark import synth

    base = seed * STD_STRIDE
    return [synth._gen_one(base + i) for i in range(lo, hi)]


def _dense_rows(seed: int, chunk: int, lo: int, hi: int, gaz):
    by_ent: dict[str, list[str]] = {}
    for alias, ent, _ in gaz:
        by_ent.setdefault(ent, []).append(alias)
    ents = sorted(by_ent)
    rank = np.random.default_rng([GEN_VERSION, 2]).permutation(len(ents))
    weights = 1.0 / (rank + 1.0) ** DENSE_ZIPF_S
    weights /= weights.sum()
    rng = np.random.default_rng([GEN_VERSION, 3, seed, chunk])
    rows = []
    for fid in range(lo, hi):
        k = int(rng.integers(20, 41))
        picked = rng.choice(len(ents), size=k, replace=False, p=weights)
        aliases = []
        for e in picked:
            opts = by_ent[ents[int(e)]]
            aliases.append(opts[int(rng.integers(0, len(opts)))])
        lines = [f"# module m_{fid}: {aliases[0]} glue"]
        cut = k // 3
        for a in aliases[:cut]:
            lines.append(f"import {a}")
        for j, a in enumerate(aliases[cut:2 * cut]):
            lines.append(f"from {a} import handle_{j}")
        rest = aliases[2 * cut:]
        for j in range(0, len(rest), 2):
            pair = rest[j:j + 2]
            lines.append(f"def fn_{fid}_{j}(x):")
            lines.append(f"    y = {pair[0]}.call(x, {pair[-1]}_ext)")
            lines.append(f"    return {pair[-1]}.run(y + {int(rng.integers(0, 1000))})")
        if rng.integers(0, 2):
            lines.append(f"class Cls_{fid}:")
            lines.append(f"    client = {aliases[int(rng.integers(0, k))]}")
        for i in range(int(rng.integers(2, 10))):
            lines.append(f"VALUE_{i} = {int(rng.integers(0, 10 ** 6))}")
        content = "\n".join(lines) + "\n"
        repo = "repo_mega" if fid % 2 == 0 else f"team_{fid % 61:02d}"
        commit = hashlib.sha1(f"dense:{seed}:{fid}".encode()).hexdigest()
        rows.append((repo, f"pkg_{fid % 31}/m_{fid}.py", commit, "python", content))
    return rows


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------

def line_hash(line: str) -> tuple[int, int]:
    b = line.encode()
    return zlib.crc32(b), zlib.crc32(hashlib.md5(b).hexdigest().encode())


def fingerprint(lines) -> list[int]:
    """[count, sum crc32, sum crc32(md5 hex)] over distinct lines."""
    n = c = m = 0
    for line in lines:
        x, y = line_hash(line)
        n += 1
        c += x
        m += y
    return [n, c, m]


def _add(a: list[int], b: list[int]) -> list[int]:
    return [x + y for x, y in zip(a, b)]


def _file_oracle(repo, path, content, alias2ent, ent_index):
    toks = set(TOKEN_RE.findall(content))
    ents = sorted({alias2ent[t] for t in toks if t in alias2ent})
    idx = [ent_index[e] for e in ents]
    pairs = [a * len(ent_index) + b for a, b in itertools.combinations(idx, 2)]
    decl = {m.group(1) for m in DECL_RE.finditer(content)}
    return ents, pairs, decl


def gen_chunk(corpus: str, n: int, seed: int, chunk: int, out_dir: str):
    """Write one parquet part and return this chunk's oracle partials."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo, hi = chunk * n // N_CHUNKS, (chunk + 1) * n // N_CHUNKS
    gaz = gazetteer(corpus, seed)
    rows = _std_rows(seed, lo, hi) if corpus == "std" else _dense_rows(seed, chunk, lo, hi, gaz)
    cols = list(zip(*rows)) if rows else [()] * 5
    table = pa.table({k: pa.array(v, pa.string()) for k, v in
                      zip(("repo", "path", "commit", "lang", "content"), cols)})
    pq.write_table(table, os.path.join(out_dir, f"part-{chunk:05d}.parquet"))

    alias2ent = {a: e for a, e, _ in gaz}
    ent_index = {e: i for i, e in enumerate(sorted(set(alias2ent.values())))}
    contains: set[tuple[str, str]] = set()
    pairs: set[int] = set()
    decl_lines = []
    for repo, path, _, _, content in rows:
        ents, p, decl = _file_oracle(repo, path, content, alias2ent, ent_index)
        contains.update((repo, e) for e in ents)
        pairs.update(p)
        key = f"{repo}/{path}"
        decl_lines.extend(f"{key}{SEP}DECLARES{SEP}{s}" for s in decl)
    # DECLARES subjects are file keys, unique per file, so chunk
    # fingerprints add up exactly; the other families are unioned.
    return sorted(contains), np.fromiter(pairs, np.int64, len(pairs)), fingerprint(decl_lines), len(rows)


def _cooccurs_fp(codes: np.ndarray, ents: list[str]) -> list[int]:
    n = len(ents)
    return fingerprint(f"{ents[c // n]}{SEP}COOCCURS{SEP}{ents[c % n]}" for c in codes.tolist())


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

class Corpus:
    """One cached input: parquet dir + gazetteer + oracle fingerprint."""

    def __init__(self, path: Path):
        self.path = path
        self.files = str(path / "files")
        meta = json.loads((path / "meta.json").read_text())
        self.gazetteer = [tuple(r) for r in meta["gazetteer"]]
        self.oracle = meta["oracle"]
        self.n_files = meta["n_files"]

    @property
    def n_triples(self) -> int:
        return sum(v[0] for v in self.oracle.values())


def prepare(work: Path, corpus: str, n: int, seed: int, procs: int) -> Corpus:
    """Return the cached input for (corpus, n, seed), generating it if absent.
    Any integer seed is accepted; numpy seeding needs it non-negative, so it
    is taken modulo 2**32."""
    seed %= 1 << 32
    root = work / "inputs"
    root.mkdir(parents=True, exist_ok=True)
    final = root / f"{corpus}-n{n}-s{seed}-g{GEN_VERSION}"
    if (final / "meta.json").exists():
        os.utime(final)
        return Corpus(final)
    tmp = root / f".tmp-{final.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "files").mkdir(parents=True)
    gaz = gazetteer(corpus, seed)
    ents = sorted({e for _, e, _ in gaz})
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        parts = pool.starmap(
            gen_chunk, [(corpus, n, seed, c, str(tmp / "files")) for c in range(N_CHUNKS)]
        )
        contains = sorted(set().union(*(set(p[0]) for p in parts)))
        codes = np.unique(np.concatenate([p[1] for p in parts]))
        cooc = [0, 0, 0]
        for fp in pool.starmap(_cooccurs_fp, [(s, ents) for s in np.array_split(codes, procs * 2)]):
            cooc = _add(cooc, fp)
        pool.close()
        pool.join()
    decl = [0, 0, 0]
    for p in parts:
        decl = _add(decl, p[2])
    oracle = {
        "CONTAINS": fingerprint(f"{r}{SEP}CONTAINS{SEP}{e}" for r, e in contains),
        "COOCCURS": cooc,
        "DECLARES": decl,
    }
    meta = {"corpus": corpus, "n_files": sum(p[3] for p in parts), "seed": seed,
            "gen_version": GEN_VERSION, "gazetteer": gaz, "oracle": oracle}
    (tmp / "meta.json").write_text(json.dumps(meta))
    try:
        tmp.rename(final)
    except OSError:  # a concurrent run committed it first
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(root)
    # flush the new files now rather than in writeback during timed work
    os.sync()
    return Corpus(final)


def _evict(root: Path) -> None:
    entries = sorted((p for p in root.iterdir() if not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[KEEP_INPUTS:]:
        shutil.rmtree(p, ignore_errors=True)
