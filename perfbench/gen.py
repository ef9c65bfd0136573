"""Seeded input generators for the benchmark.

Everything the engine receives is made here from a seed: a source-code
corpus ``(repo, path, commit, lang, content, doc_id, sha256)`` written as
parquet, a query stream of plain strings, and live-ingest waves of
upserts and tombstones. Identifiers are alphabetic so the tokenizer's
``^[a-zA-Z]+$`` gate keeps them, and they are drawn from a Zipf law over
a fixed-size vocabulary, so term frequencies, posting-list lengths and
query costs have the long tail a real code corpus has.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np

LANGS = ("py", "java", "js", "go", "md")
QUERY_KINDS = ("term", "two_term", "and", "or", "not", "phrase")
# Every planted wave token starts with this prefix; vocabulary words never
# do, so a planted token matches exactly the docs it was planted in.
PLANT_PREFIX = "qqzplant"
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class GenParams:
    vocab_size: int = 30_000
    # the vocabulary is the same for every run; files, queries and waves
    # follow the run's seed
    vocab_seed: int = 20_250
    zipf_s: float = 1.07
    min_tokens: int = 40
    max_tokens: int = 400
    n_repos: int = 400
    # query stream
    query_repeat_share: float = 0.15
    query_repeat_window: int = 600
    # live waves
    upsert_share: float = 0.10
    delete_share: float = 0.02

    def as_dict(self) -> dict:
        d = asdict(self)
        d["query_kinds"] = {k: round(1 / len(QUERY_KINDS), 4) for k in QUERY_KINDS}
        return d


def _rng(seed: int, stream: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def vocabulary(p: GenParams) -> np.ndarray:
    """``vocab_size`` distinct lowercase identifiers of 4-11 letters,
    in Zipf rank order (index 0 is the most frequent)."""
    rng = _rng(p.vocab_seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < p.vocab_size:
        lens = rng.integers(4, 12, size=p.vocab_size)
        letters = rng.integers(0, 26, size=(p.vocab_size, 11))
        for n, row in zip(lens, letters):
            w = "".join(_LETTERS[row[:n]])
            if w in seen or w.startswith(PLANT_PREFIX[:3]):
                continue
            seen.add(w)
            words.append(w)
            if len(words) == p.vocab_size:
                break
    return np.array(words, dtype=object)


def zipf_cdf(p: GenParams) -> np.ndarray:
    w = np.arange(1, p.vocab_size + 1, dtype=np.float64) ** -p.zipf_s
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(n)), cdf.size - 1)


def file_contents(
    p: GenParams, vocab: np.ndarray, cdf: np.ndarray,
    rng: np.random.Generator, n: int, plant: str | None = None,
) -> list[str]:
    lens = rng.integers(p.min_tokens, p.max_tokens + 1, size=n)
    ranks = _draw(rng, cdf, int(lens.sum()))
    words = vocab[ranks]
    out = []
    pos = 0
    for ln in lens:
        toks = words[pos:pos + ln]
        pos += ln
        text = " ".join(toks)
        out.append(f"{plant} {text}" if plant else text)
    return out


def corpus_rows(
    p: GenParams, vocab: np.ndarray, cdf: np.ndarray, seed: int,
    start_id: int, n: int, stream: str = "corpus", plant: str | None = None,
) -> dict:
    """Column dict for ``n`` files with doc ids ``start_id ..``."""
    rng = _rng(seed, f"{stream}:{start_id}")
    contents = file_contents(p, vocab, cdf, rng, n, plant=plant)
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    # Pareto-skewed repo sizes, like real hosting: a few big repos
    repo_idx = (rng.pareto(1.2, size=n) * 7).astype(np.int64) % p.n_repos
    langs = rng.integers(0, len(LANGS), size=n)
    return {
        "repo": [f"org{r % 13}/repo{r}" for r in repo_idx],
        "path": [
            f"src/m{int(i) % 31}/f{int(i)}.{LANGS[lg]}"
            for i, lg in zip(ids, langs)
        ],
        "commit": [
            hashlib.sha1(f"{seed}:{stream}:{int(i)}".encode()).hexdigest()[:12]
            for i in ids
        ],
        "lang": [LANGS[lg] for lg in langs],
        "content": contents,
        "doc_id": ids,
        "sha256": [hashlib.sha256(c.encode()).hexdigest() for c in contents],
    }


def write_parquet(cols: dict, path: str, n_files: int = 4) -> int:
    """Write the column dict as ``n_files`` parquet files under ``path``;
    returns the content bytes written (the index-size denominator)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(
            table.slice(lo, step), os.path.join(path, f"part-{i:05d}.parquet")
        )
    return content_bytes(cols)


def content_bytes(cols: dict) -> int:
    return sum(len(c.encode()) for c in cols["content"])


def query_stream(
    p: GenParams, vocab: np.ndarray, cdf: np.ndarray, seed: int, n: int,
) -> tuple[list[str], list[str]]:
    """``n`` queries, each kind 1/6 of the stream, terms Zipf-drawn.
    A ``query_repeat_share`` of them re-sends one of the previous
    ``query_repeat_window`` queries (a user re-running a search), which
    puts the 1000-entry result cache between always and never hit.
    Returns (queries, kinds)."""
    rng = _rng(seed, "queries")
    kinds = rng.integers(0, len(QUERY_KINDS), size=n)
    terms = vocab[_draw(rng, cdf, 2 * n)]
    rep = rng.random(n) < p.query_repeat_share
    back = rng.integers(1, p.query_repeat_window + 1, size=n)
    qs: list[str] = []
    ks: list[str] = []
    for i in range(n):
        if rep[i] and i >= back[i]:
            qs.append(qs[i - back[i]])
            ks.append(ks[i - back[i]])
            continue
        a, b = terms[2 * i], terms[2 * i + 1]
        kind = QUERY_KINDS[kinds[i]]
        qs.append({
            "term": a,
            "two_term": f"{a} {b}",
            "and": f"{a} AND {b}",
            "or": f"{a} OR {b}",
            "not": f"{a} NOT {b}",
            "phrase": f'"{a} {b}"',
        }[kind])
        ks.append(kind)
    return qs, ks


def plant_token(wave: int) -> str:
    """Alphabetic token unique to one wave (survives the token gate)."""
    s = ""
    w = wave
    for _ in range(3):
        s = chr(ord("a") + w % 26) + s
        w //= 26
    return PLANT_PREFIX + s


@dataclass
class Wave:
    index: int
    cols: dict            # rows to land: new files, upserts, tombstones
    new_ids: list
    upsert_ids: list
    delete_ids: list
    plant: str


def make_wave(
    p: GenParams, vocab: np.ndarray, cdf: np.ndarray, seed: int,
    index: int, next_id: int, alive: np.ndarray, size: int,
) -> Wave:
    """One live wave of ``size`` rows: ~``upsert_share`` rewrite existing
    alive ids, ~``delete_share`` tombstone other alive ids, the rest are
    new ids from ``next_id``. Every live row of the wave carries the
    wave's planted token."""
    rng = _rng(seed, f"wave:{index}")
    n_up = int(round(size * p.upsert_share))
    n_del = int(round(size * p.delete_share))
    n_new = size - n_up - n_del
    picked = rng.choice(alive, size=n_up + n_del, replace=False)
    up_ids = np.sort(picked[:n_up])
    del_ids = np.sort(picked[n_up:])
    plant = plant_token(index)
    new = corpus_rows(p, vocab, cdf, seed, next_id, n_new,
                      stream=f"wave{index}", plant=plant)
    up = corpus_rows(p, vocab, cdf, seed, 0, n_up,
                     stream=f"upsert{index}", plant=plant)
    up["doc_id"] = up_ids
    # tombstone rows carry only their id; text columns are empty
    cols = {
        k: list(new[k]) + list(up[k]) + [""] * n_del
        for k in new if k != "doc_id"
    }
    cols["doc_id"] = np.concatenate([new["doc_id"], up_ids, del_ids])
    cols["deleted"] = [False] * (n_new + n_up) + [True] * n_del
    return Wave(index, cols, [int(i) for i in new["doc_id"]],
                [int(i) for i in up_ids], [int(i) for i in del_ids], plant)
