"""Seeded corpus generator for the dedup benchmark.

Every workload's inputs are a pure function of ``(workload, seed, params)``:
the same seed gives byte-identical parquet files and planted-truth tables.
The program under test only ever reads the parquet; the truth tables are
read by the benchmark's output checks alone.

Corpora are code-like: each line is an indentation plus 3-10 tokens drawn
from a keyword + identifier vocabulary, every generated line is new (only
planted copies repeat text), and file lengths are heavy-tailed (log-normal
line counts, ~2.3k chars on average, as ``dedup.fixtures.make_corpus_fast``).
The mix follows ``make_corpus_fast``: 70% base docs, 10% exact copies, 20%
near copies (here at 1-20% line mutation), one giant repo holding ~30% of
rows. Planted skew per workload, sized for the CLI's default configuration:

- ``batch``: a licence-file family of ``hot`` whitespace variants (same
  tokens, different bytes, so ``exact_stage`` keeps them apart and every
  band puts them in one bucket of 64..``band_bucket_cap`` docs: the salted
  self-join), and a second family of ``capped`` variants, more than the
  default ``band_bucket_cap`` of 2000, so its buckets are dropped and
  audited.
- ``substring``: files with planted >=512-char verbatim blocks at random
  line offsets inside otherwise unrelated files, ~10% exact copies, and
  ``bundles`` pairs whose one side is a generated file longer than twice
  the default ``substring_chunk`` (1 MiB), so anchor-window tiling runs.
- ``stream``: a base corpus shaped like ``batch`` without the capped
  family (the same for every seed, so its ingested snapshot is built once
  per checkout) plus one round file of new docs drawn from the seed, a
  third verbatim copies and a third near copies of base docs.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

_KEYWORDS = (
    "def class return import if else for while try except lambda yield "
    "public static void int double string final new struct fn let mut impl "
    "func var package interface map chan go defer select case switch break "
    "self this null true false const async await match enum trait"
).split()
_VOCAB = np.array(
    _KEYWORDS + [f"ident_{i}" for i in range(3000)]
    + [f"val_{i}" for i in range(800)] + ["(", ")", "{", "}", "=", "+", ";"],
    dtype=object,
)
_INDENT = np.array(["", "    ", "        ", "            "], dtype=object)
_LANGS = ("python", "java", "c", "go", "js")
_LICENCE_A = (
    "licensed under the apache license version 2 0 the license you may not "
    "use this file except in compliance with the license you may obtain a "
    "copy of the license at http www apache org licenses license 2 0 unless "
    "required by applicable law or agreed to in writing software distributed "
    "under the license is distributed on an as is basis without warranties "
    "or conditions of any kind either express or implied see the license for "
    "the specific language governing permissions and limitations"
)
_LICENCE_B = (
    "permission is hereby granted free of charge to any person obtaining a "
    "copy of this software and associated documentation files the software "
    "to deal in the software without restriction including without "
    "limitation the rights to use copy modify merge publish distribute "
    "sublicense and or sell copies of the software and to permit persons to "
    "whom the software is furnished to do so subject to the following "
    "conditions the above copyright notice and this permission notice shall"
)
_MUTATION_RATES = (0.01, 0.03, 0.05, 0.10, 0.20)

STREAM_BASE_SEED = 0

# input sizes per workload; part of the input cache key
PARAMS = {
    "batch": dict(n_docs=10000, exact=0.10, near=0.20, giant=0.30, hot=150,
                  capped=2100),
    "substring": dict(n_docs=1500, pairs=150, exact=0.10, bundles=2,
                      bundle_chars=2_200_000, block_min=512),
    "stream": dict(n_docs=3000, n_new=120, exact=0.10, near=0.20, giant=0.30,
                   hot=100, capped=0),
}

# the untimed warm-up unit's inputs: the same shape at a small size, so the
# warm-up pays the cold-start cost (JIT, Python workers) without the
# full unit's work
WARM_PARAMS = {
    "batch": dict(n_docs=400, exact=0.10, near=0.20, giant=0.30, hot=70,
                  capped=0),
    "substring": dict(n_docs=100, pairs=10, exact=0.10, bundles=0,
                      bundle_chars=0, block_min=512),
    "stream": dict(n_docs=100, n_new=20, exact=0.10, near=0.20, giant=0.30,
                   hot=70, capped=0),
}


def doc_key(repo: str, path: str, commit: str) -> str:
    """Same identity hash as ``dedup.minhash.with_doc_key``."""
    return hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()


def shingle_jaccards(pairs: list[tuple[str, str]], k: int = 5) -> list[float]:
    """Exact Jaccard of each pair's token k-shingle sets, through the
    library's own shingler so truth and pipeline agree on tokenization."""
    from dedup.shingle import batch_shingles

    if not pairs:
        return []
    sh, st, ct, _ = batch_shingles(
        pd.Series([t for pair in pairs for t in pair]), k)
    out = []
    for i in range(len(pairs)):
        a = sh[st[2 * i]: st[2 * i] + ct[2 * i]]
        b = sh[st[2 * i + 1]: st[2 * i + 1] + ct[2 * i + 1]]
        inter = len(np.intersect1d(a, b))
        out.append(inter / max(len(np.union1d(a, b)), 1))
    return out


class _Corpus:
    def __init__(self, seed: int, tag: str, giant: float = 0.30):
        self.rng = np.random.default_rng([seed, sum(map(ord, tag))])
        self.seed, self.tag, self.giant = seed, tag, giant
        self.rows: list[dict] = []
        self.truth: list[dict] = []
        self._lines: list[str] = []
        self._next = 0

    # -- text ---------------------------------------------------------------
    def lines(self, n: int) -> list[str]:
        """``n`` fresh lines; no generated line is handed out twice."""
        if self._next + n > len(self._lines):
            self._lines, self._next = self._lines[self._next:], 0
        while len(self._lines) < n:
            m = max(n, 1 << 16)
            n_tok = self.rng.integers(3, 11, size=m)
            toks = _VOCAB[self.rng.integers(0, len(_VOCAB),
                                            size=int(n_tok.sum()))]
            ind = _INDENT[self.rng.integers(0, len(_INDENT), size=m)]
            ends = np.cumsum(n_tok)
            self._lines += [ind[i] + " ".join(toks[ends[i] - n_tok[i]: ends[i]])
                            for i in range(m)]
        self._next += n
        return self._lines[self._next - n: self._next]

    def n_lines(self, size: int, median: float = 30.0, lo: int = 4,
                hi: int = 400) -> np.ndarray:
        return np.clip(self.rng.lognormal(np.log(median), 0.8, size=size),
                       lo, hi).astype(int)

    def text(self, n_lines: int) -> str:
        return "\n".join(self.lines(n_lines))

    def mutate(self, text: str, frac: float) -> str:
        lines = text.split("\n")
        n_mut = min(max(1, int(round(len(lines) * frac))), len(lines))
        fresh = self.lines(n_mut)
        for j, line in zip(self.rng.choice(len(lines), size=n_mut,
                                           replace=False), fresh):
            lines[j] = line
        return "\n".join(lines)

    def licence_variants(self, header: str, n: int) -> list[str]:
        """``n`` distinct files holding the same licence tokens: each line
        gets its own indentation and trailing spaces, so the bytes differ
        and the whitespace-split shingles do not."""
        words = header.split()
        wrapped = [" ".join(["#"] + words[i: i + 12])
                   for i in range(0, len(words), 12)]
        out: set[str] = set()
        while len(out) < n:
            pad = self.rng.integers(0, 8, size=(2, len(wrapped)))
            out.add("\n".join(" " * int(a) + w + " " * int(b)
                              for w, a, b in zip(wrapped, *pad)))
        return sorted(out)

    # -- rows ---------------------------------------------------------------
    def add(self, content: str, repo: str | None = None) -> str:
        i = len(self.rows)
        if repo is None:
            repo = ("org0/giant" if self.rng.random() < self.giant
                    else f"org{1 + i % 7}/repo{i % 97}")
        lang = _LANGS[i % len(_LANGS)]
        commit = hashlib.sha1(
            f"{self.tag}-{self.seed}-{i}".encode()).hexdigest()
        path = f"src/{lang}/mod{i % 17}/file{i}.{lang[:2]}"
        self.rows.append(dict(repo=repo, path=path, commit=commit, lang=lang,
                              content=content))
        return doc_key(repo, path, commit)

    def pair(self, a: str, b: str, kind: str, jaccard: float) -> None:
        lo, hi = (a, b) if a < b else (b, a)
        self.truth.append(dict(key_a=lo, key_b=hi, kind=kind,
                               jaccard=float(jaccard)))

    def frames(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        truth = pd.DataFrame(self.truth, columns=["key_a", "key_b", "kind",
                                                  "jaccard"])
        return pd.DataFrame(self.rows), truth


def _near_dup_corpus(b: _Corpus, p: dict) -> tuple[list[str], list[str]]:
    """Base docs, exact and near copies, licence families; returns the base
    docs' keys and texts."""
    n_base = int(p["n_docs"] * (1 - p["exact"] - p["near"]))
    base_texts = [b.text(int(n)) for n in b.n_lines(n_base)]
    base_keys = [b.add(t) for t in base_texts]
    for j in b.rng.choice(n_base, size=int(p["n_docs"] * p["exact"])):
        b.pair(base_keys[j], b.add(base_texts[j]), "exact", 1.0)
    near = []
    for idx, j in enumerate(b.rng.choice(n_base, size=int(p["n_docs"]
                                                          * p["near"]),
                                         replace=False)):
        t = b.mutate(base_texts[j], _MUTATION_RATES[idx % 5])
        near.append((base_keys[j], b.add(t), (base_texts[j], t)))
    for (ka, kb, _), jac in zip(near, shingle_jaccards([x[2] for x in near])):
        b.pair(ka, kb, "near", jac)
    # hot family: one bucket per band inside the salted-join range; every
    # member is a shingle-identical near copy of the first
    hot = [b.add(t) for t in b.licence_variants(_LICENCE_B, p["hot"])]
    for k in hot[1:]:
        b.pair(hot[0], k, "licence", 1.0)
    # capped family: buckets over band_bucket_cap are dropped by design,
    # so its pairs are skew, not planted truth
    for t in b.licence_variants(_LICENCE_A, p["capped"]):
        b.add(t)
    return base_keys, base_texts


def build(workload: str, seed: int, params: dict | None = None
          ) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame | None]:
    """→ (corpus, truth, round_docs). ``round_docs`` is the stream
    workload's landed file (None for batch and substring)."""
    p = params or PARAMS[workload]
    if workload == "batch":
        b = _Corpus(seed, workload, p["giant"])
        _near_dup_corpus(b, p)
        corpus, truth = b.frames()
        return corpus, truth, None
    if workload == "substring":
        return (*_substring_corpus(seed, p), None)
    if workload == "stream":
        # the base corpus is the same for every seed, so its ingested
        # snapshot is built once per checkout; the round file is drawn
        # from the seed
        b = _Corpus(STREAM_BASE_SEED, workload, p["giant"])
        base_keys, base_texts = _near_dup_corpus(b, p)
        base, base_truth = b.frames()
        r = _Corpus(seed, "stream-round", p["giant"])
        n_new = p["n_new"]
        picks = r.rng.choice(len(base_texts), size=2 * (n_new // 3),
                             replace=False)
        for j in picks[: n_new // 3]:
            r.pair(base_keys[j], r.add(base_texts[j]), "exact", 1.0)
        near = []
        for idx, j in enumerate(picks[n_new // 3:]):
            t = r.mutate(base_texts[j], _MUTATION_RATES[idx % 3])
            near.append((base_keys[j], r.add(t), (base_texts[j], t)))
        for (ka, kb, _), jac in zip(near,
                                    shingle_jaccards([x[2] for x in near])):
            r.pair(ka, kb, "near", jac)
        for n in r.n_lines(n_new - len(r.rows)):
            r.add(r.text(int(n)))
        new, new_truth = r.frames()
        return base, pd.concat([base_truth, new_truth], ignore_index=True), new
    raise ValueError(f"unknown workload {workload!r}")


def _substring_corpus(seed: int, p: dict) -> tuple[pd.DataFrame, pd.DataFrame]:
    b = _Corpus(seed, "substring", giant=0.30)
    n_pairs = p["pairs"]
    n_plain = p["n_docs"] - 2 * n_pairs - int(p["n_docs"] * p["exact"])

    def block() -> str:
        lines = b.lines(10)
        while sum(len(x) + 1 for x in lines) < p["block_min"] + 64:
            lines += b.lines(1)
        return "\n".join(lines)

    def host(n_chars_min: int = 0) -> list[str]:
        lines = b.lines(int(b.n_lines(1, median=70.0, lo=20, hi=300)[0]))
        size = sum(len(x) + 1 for x in lines)
        while size < n_chars_min:
            # a generated bundle, grown 1000 lines at a time
            more = b.lines(1000)
            lines += more
            size += sum(len(x) + 1 for x in more)
        return lines

    def embed(lines: list[str], blk: str) -> str:
        at = int(b.rng.integers(0, len(lines) + 1))
        return "\n".join(lines[:at] + [blk] + lines[at:])

    plain_texts = ["\n".join(host()) for _ in range(n_plain)]
    for t in plain_texts:
        b.add(t)
    # planted pairs: one shared block inside two otherwise unrelated files;
    # the first ``bundles`` pairs put one side in a file past 2 x chunk
    for i in range(n_pairs):
        blk = block()
        long_side = p["bundle_chars"] if i < p["bundles"] else 0
        ka = b.add(embed(host(long_side), blk))
        kb = b.add(embed(host(), blk))
        b.pair(ka, kb, "substring", float("nan"))
    for j in b.rng.choice(n_plain, size=int(p["n_docs"] * p["exact"]),
                          replace=False):
        b.add(plain_texts[j])
    return b.frames()


def materialize_inputs(workload: str, seed: int, root: str,
                       warm: bool = False) -> dict:
    """Write the workload's inputs (``warm``: its warm-up inputs) under
    ``root`` keyed by seed and params, reusing them when already present.
    Returns the file layout."""
    p = (WARM_PARAMS if warm else PARAMS)[workload]
    params = json.dumps(p, sort_keys=True)
    with open(__file__, "rb") as f:
        # the generator's own source is part of the key: editing it
        # regenerates instead of reusing files an older version wrote
        tag = hashlib.sha256(params.encode() + f.read()).hexdigest()[:10]
    name = f"{workload}-warm" if warm else workload
    d = os.path.join(root, f"{name}-s{seed}-{tag}")
    layout = dict(dir=d, params_tag=tag, corpus=os.path.join(d, "corpus"),
                  truth=os.path.join(d, "truth.parquet"),
                  round=os.path.join(d, "round.parquet"))
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return layout
    corpus, truth, round_docs = build(workload, seed, p)
    # shuffle rows so families and copies do not sit in one part file
    order_seed = STREAM_BASE_SEED if workload == "stream" else seed
    corpus = corpus.sample(frac=1.0, random_state=order_seed % 2**32,
                           ignore_index=True)
    os.makedirs(layout["corpus"], exist_ok=True)
    # several part files, so the scan has more than one split
    cuts = np.linspace(0, len(corpus), 5).astype(int)
    for i in range(4):
        corpus.iloc[cuts[i]:cuts[i + 1]].to_parquet(
            os.path.join(layout["corpus"], f"part-{i}.parquet"), index=False)
    truth.to_parquet(layout["truth"], index=False)
    if round_docs is not None:
        round_docs.to_parquet(layout["round"], index=False)
    with open(done, "w") as f:
        f.write(params)
    return layout
