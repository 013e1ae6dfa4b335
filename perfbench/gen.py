"""Seeded input generators: corpus, query streams, arrival schedules.

Everything here is a pure function of its seed. The corpus has the shape of
the engine's synthetic corpus (``synth.py``): ``repo/path/commit/lang/content``
rows whose content is Zipf(s=1.1) draws over a 50k-term vocabulary ``t0..``
plus preferential-attachment ``ref://`` links. It is generated in fixed
chunks of ``CHUNK`` docs with whole-array numpy draws, so any chunk can be
regenerated alone and 10k docs take about a second.
"""

from __future__ import annotations

import hashlib

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
CHUNK = 1000
LANGS = ("python", "go", "java", "js")
LANG_EXT = {"python": "py", "go": "go", "java": "java", "js": "js"}
LANG_CUM = np.array([0.48, 0.74, 0.90, 1.0])
VOCAB = np.array([f"t{j}" for j in range(VOCAB_SIZE)], dtype=object)
_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S)
_CDF /= _CDF[-1]


def zipf_terms(rng: np.random.Generator, n: int) -> np.ndarray:
    """n vocabulary indices drawn with Zipf(s=1.1) popularity."""
    return np.minimum(np.searchsorted(_CDF, rng.random(n)), VOCAB_SIZE - 1)


def _doc_key(i: int) -> tuple[str, int]:
    repo_i = int(np.sqrt(i))
    return f"org{repo_i % 97}/repo{repo_i}", i - repo_i * repo_i


def corpus_chunk(seed: int, chunk: int, max_len: int = 1450) -> list[dict]:
    """The CHUNK corpus rows of doc indices chunk*CHUNK .. (chunk+1)*CHUNK-1.

    (repo, path) depends on the doc index only, so chunks never collide on
    the store's upsert key."""
    rng = np.random.default_rng([seed, chunk])
    idx = np.arange(chunk * CHUNK, (chunk + 1) * CHUNK)
    lens = 50 + (rng.random(CHUNK) * rng.random(CHUNK) * max_len).astype(np.int64)
    terms = VOCAB[zipf_terms(rng, int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    lang_ix = np.searchsorted(LANG_CUM, rng.random(CHUNK))
    n_refs = (rng.random(CHUNK) * 8).astype(np.int64)
    n_refs[idx == 0] = 0
    ref_pos = np.concatenate([[0], np.cumsum(n_refs)])
    ref_tgt = (np.repeat(idx, n_refs) * rng.random(int(n_refs.sum())) ** 2.5).astype(np.int64)
    rows = []
    for r in range(CHUNK):
        i = int(idx[r])
        repo, local = _doc_key(i)
        lang = LANGS[int(lang_ix[r])]
        path = f"src/pkg{local % 13}/mod{local}.{LANG_EXT[lang]}"
        toks = list(terms[bounds[r]:bounds[r + 1]])
        for tgt in ref_tgt[ref_pos[r]:ref_pos[r + 1]]:
            if tgt != i:
                trepo, tlocal = _doc_key(int(tgt))
                toks.append(f"ref://{trepo}/src/pkg{tlocal % 13}/mod{tlocal}")
        content = f"module mod{local} in {repo}\n" + " ".join(toks)
        commit = hashlib.md5(f"{repo}/{path}".encode()).hexdigest()[:40]
        rows.append({"repo": repo, "path": path, "commit": commit,
                     "lang": lang, "content": content})
    return rows


def corpus(seed: int, chunks) -> list[dict]:
    return [row for c in chunks for row in corpus_chunk(seed, c)]


def arrivals(rng: np.random.Generator, rate: float, seconds: float) -> list[float]:
    """Poisson arrival offsets (s) at `rate` per second over `seconds`."""
    n = int(rate * seconds * 1.5) + 16
    t = np.cumsum(rng.exponential(1.0 / rate, n))
    return t[t < seconds].tolist()


def _terms(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[zipf_terms(rng, n)])


def head_pool(seed: int, size: int, k: int) -> list[dict]:
    """`size` distinct OR/AND term queries: the popular-query set."""
    rng = np.random.default_rng([seed, 1])
    pool, seen = [], set()
    while len(pool) < size:
        q = _terms(rng, int(rng.integers(1, 4)))
        mode = "and" if rng.random() < 0.25 else "or"
        if (q, mode) not in seen:
            seen.add((q, mode))
            pool.append({"q": q, "k": k, "mode": mode})
    return pool


def head_picks(rng: np.random.Generator, pool_size: int, n: int) -> list[int]:
    """n pool indices with Zipf(s=1) popularity over the pool ranks."""
    w = 1.0 / np.arange(1, pool_size + 1)
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), pool_size - 1).tolist()


# serve_longtail request mix (shares sum to 1)
LONGTAIL_MIX = (("or", 0.53), ("and", 0.20), ("highlight", 0.08),
                ("page2", 0.07), ("phrase", 0.10), ("fuzzy", 0.02))


def _typo_band(rng: np.random.Generator, n: int) -> np.ndarray:
    """n Zipf draws restricted to ranks 100..9999: the 4-5 character terms,
    which AUTO fuzziness expands at distance 1 (shorter terms match exactly,
    longer ones at distance 2)."""
    out = np.empty(0, dtype=np.int64)
    while len(out) < n:
        t = zipf_terms(rng, 4 * n)
        out = np.concatenate([out, t[(t >= 100) & (t < 10_000)]])
    return out[:n]


def _misspell(rng: np.random.Generator, term: str) -> str:
    """A one-character substitution after the first character: same length,
    so the AUTO distance stays 1, and the prefix=1 band still holds."""
    j = int(rng.integers(1, len(term)))
    digit = str((int(term[j]) + int(rng.integers(1, 10))) % 10)
    return term[:j] + digit + term[j + 1:]


def longtail_request(rng: np.random.Generator, kind: str, k: int,
                     phrase_docs: list[str]) -> dict:
    """One request of a LONGTAIL_MIX kind over fresh Zipf term draws.
    Phrases are 2-3 consecutive content tokens of a corpus doc, so every
    phrase has at least one match."""
    req = {"q": _terms(rng, int(rng.integers(2, 5))), "k": k, "mode": "or", "kind": kind}
    if kind == "and":
        req["q"] = _terms(rng, 2)
        req["mode"] = "and"
    elif kind == "highlight":
        req["highlight"] = 1
    elif kind == "page2":
        req["from"] = k
    elif kind == "phrase":
        toks = phrase_docs[int(rng.integers(len(phrase_docs)))].split("\n", 1)[1].split(" ")
        toks = [t for t in toks if not t.startswith("ref://")]
        span = int(rng.integers(2, 4))
        at = int(rng.integers(0, len(toks) - span))
        req["q"] = '"' + " ".join(toks[at:at + span]) + '"'
    elif kind == "fuzzy":
        req["q"] = " ".join(_misspell(rng, t) for t in VOCAB[_typo_band(rng, 2)])
        req["fuzzy"], req["prefix"] = 1, 1
    return req


def longtail_requests(rng: np.random.Generator, n: int, k: int,
                      phrase_docs: list[str]) -> list[dict]:
    """n mostly-distinct requests in the LONGTAIL_MIX shapes and shares.
    Stratified: each kind's count is its share of n and only the order is
    random, so runs differ in which requests come, not in how many are heavy."""
    counts = [int(share * n) for _, share in LONGTAIL_MIX]
    counts[0] += n - sum(counts)
    kinds = [kd for (kd, _), c in zip(LONGTAIL_MIX, counts) for _ in range(c)]
    return [longtail_request(rng, kinds[int(p)], k, phrase_docs) for p in rng.permutation(n)]
