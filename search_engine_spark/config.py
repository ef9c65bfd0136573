"""Engine-wide configuration.

All scale knobs live here so a 100 TB deployment tunes one object, not
scattered constants. Defaults are sized for local[32] tests; the docstrings
say what to change on a real cluster.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Tuning knobs for index build + query.

    Scale notes (1000-executor / 100 TB):
      * ``docs_per_shard`` bounds the size of ONE posting-shard row: a term
        can have at most ``docs_per_shard`` postings inside one doc-id range
        bucket, so the hottest term (df == N) still produces rows of bounded
        size — this replaces ad-hoc hot-key salting with a deterministic,
        WAND-friendly range bucketing (all terms share the same bucket
        boundaries, so bucket *b* of every term covers the same doc-id
        range and query-time merging never shuffles by doc).
      * ``shuffle_partitions`` should be ~2-3x total executor cores.
      * ``block_size`` is the block-max granularity for WAND pruning.
    """

    # --- tokenization (reference parity: SURVEY.md §2.2 T1-T4) ---
    min_word_len: int = 2          # SE/Indexer/Tokenizer.java:22
    max_word_len: int = 45         # SE/Indexer/Tokenizer.java:23
    stem: bool = True
    remove_stopwords: bool = True
    # token regex: reference uses \b[\w']+\b over lowercased text then a
    # ^[a-zA-Z]+$ validity gate (Tokenizer.java:79,118-123)
    token_pattern: str = r"\b[\w']+\b"

    # --- BM25 (north rule: k1=1.2, b=0.75) ---
    bm25_k1: float = 1.2
    bm25_b: float = 0.75

    # --- ranking mix (SE/Ranker/Ranker.java:18-19) ---
    relevance_weight: float = 0.7
    pagerank_weight: float = 0.3

    # --- phrase semantics (SE/QP/QueryIndex.java:355) ---
    phrase_max_gap: int = 3

    # --- posting layout ---
    docs_per_shard: int = 1 << 16   # doc-id range width per posting shard
    block_size: int = 128           # postings per block-max block (WAND)
    store_arrays: bool = True       # keep decoded arrays next to the codec
                                    # binary (debug/local); False at scale

    # --- PageRank (SE/Ranker/PageRank.java:14-15) ---
    pagerank_damping: float = 0.85
    pagerank_epsilon: float = 1e-5
    pagerank_max_iter: int = 100
    pagerank_checkpoint_every: int = 5
    # size-based physical-strategy switch (the reference does the same for
    # ranking, Ranker.java:20): below this node count the identical
    # fixpoint runs driver-side in numpy — per-iteration Spark job
    # overhead dwarfs the math on small graphs. Above it, the
    # iterative-DataFrame loop runs distributed.
    pagerank_local_threshold: int = 200_000

    # --- misc ---
    topk_default: int = 10
    extra: dict = field(default_factory=dict, hash=False, compare=False)


DEFAULT = EngineConfig()
