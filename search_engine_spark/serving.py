"""Driver-side query serving over the saved index artifacts.

The reference is a single-node server (Spring backend over SQLite,
SE/BackendManager.java + QP): warm queries answer in 20-50 ms and
cached ones in <5 ms because the index lives in local structures, not
behind a batch scheduler. Spark's per-job floor (~0.3-0.8 s on
local[32]) can never meet that bar — and shouldn't: the 100 TB design
splits the system into (a) Spark building/merging the compact codec
index at cluster scale and (b) a serving tier loading those SAME
artifacts and answering queries from memory. This module is (b): it
reads the parquet/codec artifacts written by ``Index.save`` with
pyarrow (NO SparkSession anywhere on the query path) and keeps the
codec blobs in the Arrow buffers they were read into (no per-term
Python objects). Postings decode lazily per term into numpy; positions
decode only for phrase queries, into CSR arrays (int64 offsets + one
flat int32 array); the phrase cache keeps only each phrase's matching
doc ids. It reproduces the engine's exact query
semantics — analyzer, boolean quirks Q4/Q5, phrase gap-3, BM25/TF-IDF
scoring, 0.7/0.3 PageRank mix, Q6 tie-break — validated rank-identical
to the Spark path by tests/test_serving.py.

Float regime: serving always scores the float32-decoded codec values —
bit-identical to the Spark ``store_arrays=False`` profile's read path.
Against the ``store_arrays=True`` profile (which stores float64
posting arrays) scores agree to float32 quantization (~6e-8 relative),
so a near-exact tie at a top-k boundary can order differently; the
codec binaries are the artifact a serving tier would actually ship, so
float32 is the contract here.

Scale shape: one serving node holds ONE index shard-range (the codec
postings for its term range — the same repartitionByRange(term) layout
``Index.save`` already writes); a fleet of such nodes behind a router
is the standard fan-out. This module is the single-node cell of that
design, sized for the reference's single-node regime.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import OrderedDict

import numpy as np

from search_engine_spark.config import DEFAULT, EngineConfig
from search_engine_spark.operators import codec
from search_engine_spark.operators.parser import (
    detect_operator,
    is_phrase,
    query_stems,
    strip_phrase,
)
from search_engine_spark.oracle import phrase_match


def _read_parquet(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns)


_BLOB_COLS = ("doc_ids_enc", "tf_enc", "bm25_tf_enc", "pos_enc")
_NO_IDS = np.empty(0, np.int64)
_NO_POSTINGS = (_NO_IDS, np.empty(0, np.float64), np.empty(0, np.float64))


class _PostingBlobs:
    """The codec blobs of a postings table, held in its Arrow buffers.

    Rows are sorted by (term, shard), so one term's rows are contiguous
    (``_starts[slot]:_starts[slot + 1]``) and in doc-id order. Each
    binary column keeps its data buffer plus int64 offsets; a lookup
    hands out ``memoryview`` slices, so no per-row Python object exists
    until a term is decoded. ``len()`` is the number of terms."""

    def __init__(self, table=None):
        self._slot: dict[str, int] = {}
        self._starts = np.zeros(1, np.int64)
        self._cols: dict[str, tuple[np.ndarray, memoryview]] = {}
        if table is None or table.num_rows == 0:
            return
        import pyarrow.compute as pc

        t = table.sort_by(
            [("term", "ascending"), ("shard", "ascending")]
        ).combine_chunks()
        terms = t.column("term").chunk(0)
        first = np.ones(len(terms), bool)
        first[1:] = pc.not_equal(terms[1:], terms[:-1]).to_numpy(
            zero_copy_only=False
        )
        first = np.flatnonzero(first)
        self._slot = dict(
            zip(terms.take(first).to_pylist(), range(first.size))
        )
        self._starts = np.append(first, len(terms))
        for name in _BLOB_COLS:
            col = t.column(name).chunk(0)
            _valid, offs, data = col.buffers()
            off = np.frombuffer(
                offs, np.int32, len(col) + 1, col.offset * 4
            ).astype(np.int64)
            self._cols[name] = (off, memoryview(data))

    def __len__(self) -> int:
        return len(self._slot)

    def rows(self, term: str) -> range:
        """Row numbers of ``term`` (empty for an unknown term)."""
        i = self._slot.get(term)
        if i is None:
            return range(0)
        return range(int(self._starts[i]), int(self._starts[i + 1]))

    def blob(self, name: str, lo: int, hi: int) -> memoryview:
        """The blobs of rows ``lo:hi`` in column ``name``, concatenated
        (consecutive rows are contiguous in the data buffer)."""
        off, data = self._cols[name]
        return data[off[lo] : off[hi]]

    @property
    def nbytes(self) -> int:
        return self._starts.nbytes + sum(
            off.nbytes + data.nbytes for off, data in self._cols.values()
        )


class ServingIndex:
    """In-memory query server over a saved index directory."""

    def __init__(
        self,
        enc_rows: "_PostingBlobs | dict",
        idf: dict,
        doc_ids: np.ndarray,
        doc_lens: np.ndarray,
        n_docs: int,
        avgdl: float,
        cfg: EngineConfig,
        page_rank: dict | None = None,
        cache_size: int = 1000,
    ):
        self._enc = enc_rows or _PostingBlobs()  # {} = no postings
        self._idf = idf               # term -> idf
        self._doc_ids = doc_ids       # sorted
        self._doc_lens = doc_lens
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.cfg = cfg
        self._pr = page_rank or {}
        self._decoded: dict[str, tuple] = {}  # term -> (ids, bm25, tfn)
        self._pos: dict[str, tuple] = {}  # term -> (offsets, positions)
        # reference parity (QueryIndex.java:112,199-210,332): phrase
        # components are cached separately and UNBOUNDED, independent of
        # the 1000-entry LRU result cache — the reference's warm phrase
        # regime never re-runs the gap-3 position scan. Only the sorted
        # matching doc ids are kept; the per-stem rows are re-filtered
        # from the decode memo. Dropped on refresh() along with the
        # decode memo (generation swap).
        self._phrase_cache: dict[str, np.ndarray] = {}
        self._cache: OrderedDict = OrderedDict()
        self._cache_size = cache_size
        self.queries = 0
        self.cache_hits = 0
        self.cache_misses = 0
        self.load_s: float | None = None  # wall of the last load
        # set by load_latest/refresh when serving a published root
        self.generation: int | None = None
        self._root: str | None = None
        # True iff the page_rank map was supplied by the caller of
        # load()/load_latest() (vs auto-armed from the saved docs
        # projection); refresh() only carries an explicit map forward
        self._pr_explicit = False
        # set by attach_docs: source-corpus parquet for snippet fetch
        self._docs_path: str | None = None
        self._docs_text_col = "content"
        self._docs_id_col = "doc_id"

    # -- loading ----------------------------------------------------------

    @classmethod
    def load(
        cls,
        path: str,
        page_rank: dict | None = None,
        term_range: tuple[str | None, str | None] | None = None,
    ) -> "ServingIndex":
        """Read ``Index.save`` artifacts with pyarrow — no Spark.

        ``term_range=(lo, hi)`` loads ONLY postings/idf rows with
        lo <= term < hi (None = unbounded on that side) — the
        per-node loader of a term-range-sharded serving fleet. The
        saved postings are repartitionByRange(term), so parquet
        row-group statistics prune the read to the node's range;
        doc stats and meta are global (tiny) and load everywhere."""
        import dataclasses

        t0 = time.perf_counter()
        pr_explicit = page_rank is not None
        meta_file = sorted(
            glob.glob(os.path.join(path, "meta", "part-*"))
        )[0]
        with open(meta_file) as fh:
            meta = json.loads(json.loads(fh.readline())["meta"])
        names = {f.name for f in dataclasses.fields(EngineConfig)}
        saved = meta.get("cfg") or {}
        cfg = EngineConfig(
            **{k: v for k, v in saved.items() if k in names}
        ) if saved else DEFAULT

        if term_range is not None:
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            lo, hi = term_range
            flt = None
            if lo is not None:
                flt = pc.field("term") >= lo
            if hi is not None:
                f2 = pc.field("term") < hi
                flt = f2 if flt is None else (flt & f2)
            pt = pads.dataset(
                os.path.join(path, "postings"), format="parquet"
            ).to_table(
                columns=["term", "shard", "doc_ids_enc", "tf_enc",
                         "bm25_tf_enc", "pos_enc"],
                filter=flt,
            )
        else:
            pt = _read_parquet(
                os.path.join(path, "postings"),
                ["term", "shard", "doc_ids_enc", "tf_enc", "bm25_tf_enc",
                 "pos_enc"],
            )
        blobs = _PostingBlobs(pt)
        del pt

        ts = _read_parquet(os.path.join(path, "term_stats"), ["term", "idf"])
        idf = dict(
            zip(ts.column("term").to_pylist(), ts.column("idf").to_pylist())
        )
        if term_range is not None:
            lo, hi = term_range
            idf = {
                t: v
                for t, v in idf.items()
                if (lo is None or t >= lo) and (hi is None or t < hi)
            }
        ds = _read_parquet(
            os.path.join(path, "doc_stats"), ["doc_id", "doc_len"]
        )
        d_ids = np.asarray(ds.column("doc_id").to_pylist(), dtype=np.int64)
        d_len = np.asarray(ds.column("doc_len").to_pylist(), dtype=np.float64)
        order = np.argsort(d_ids)
        if page_rank is None and meta.get("has_docs"):
            # the saved docs projection carries page_rank when the index
            # was built after a write-back — auto-arm the R1/R2 mix, same
            # as the Spark path's index.docs auto-attach
            import pyarrow.parquet as pq

            docs_schema = pq.read_schema(
                sorted(
                    glob.glob(os.path.join(path, "docs", "part-*.parquet"))
                )[0]
            )
            if "page_rank" in docs_schema.names:
                dt = _read_parquet(
                    os.path.join(path, "docs"), ["doc_id", "page_rank"]
                )
                page_rank = {
                    int(i): float(r)
                    for i, r in zip(
                        dt.column("doc_id").to_pylist(),
                        dt.column("page_rank").to_pylist(),
                    )
                    if r is not None
                }
        srv = cls(
            blobs, idf, d_ids[order], d_len[order],
            int(meta["n_docs"]), float(meta["avgdl"]), cfg,
            page_rank=page_rank,
        )
        srv._pr_explicit = pr_explicit
        srv.load_s = time.perf_counter() - t0
        return srv

    @classmethod
    def load_latest(
        cls, root: str, page_rank: dict | None = None
    ) -> "ServingIndex":
        """Load the generation the ``publish.publish_index`` LATEST
        pointer names (serve-while-indexing: the Spark builder publishes
        immutable gen=K snapshots; this reader holds one until it
        chooses to ``refresh``)."""
        from search_engine_spark.publish import latest_index_path, read_latest

        srv = cls.load(latest_index_path(root), page_rank=page_rank)
        srv.generation = read_latest(root)["generation"]
        srv._root = root
        return srv

    def refresh(self) -> bool:
        """Re-read the LATEST pointer; if a newer generation was
        published, load it and swap this instance over to it in place
        (long-lived handles see the new index on their next query).
        Returns True iff a reload happened.

        The decode memo and the LRU result cache are dropped on swap —
        cached answers from the old generation must not serve — while
        the hit/miss counters stay cumulative across generations.
        Swap discipline: call from the serving loop's single control
        thread (the swap is a plain attribute update, not a lock)."""
        if self._root is None:
            raise ValueError(
                "refresh() needs an index loaded via load_latest(root)"
            )
        from search_engine_spark.publish import read_latest

        ptr = read_latest(self._root)
        if ptr is None or ptr["generation"] == self.generation:
            return False
        # only an explicitly supplied PageRank map survives a generation
        # swap; an auto-armed one must re-arm from the NEW generation's
        # docs projection (else gen-K ranks would shadow gen K+1's)
        self._swap(
            ServingIndex.load_latest(
                self._root,
                page_rank=self._pr if self._pr_explicit else None,
            )
        )
        return True

    def _swap(self, fresh: "ServingIndex") -> None:
        """Take over ``fresh``'s state in place; the query counters stay
        cumulative across generations."""
        keep = (self.queries, self.cache_hits, self.cache_misses)
        self.__dict__.update(fresh.__dict__)
        self.queries, self.cache_hits, self.cache_misses = keep

    def stats(self) -> dict:
        """Serving counters as a plain dict: queries and result-cache
        hits/misses (cumulative across generations), memo sizes, and
        resident bytes (``nbytes`` sums) of the encoded blobs, the
        decode memo, the CSR positions and the phrase cache."""
        looked_up = self.cache_hits + self.cache_misses
        return {
            "queries": self.queries,
            "cache_hits": self.cache_hits,
            "cache_misses": self.cache_misses,
            "cache_hit_ratio": (
                self.cache_hits / looked_up if looked_up else 0.0
            ),
            "decoded_terms": len(self._decoded),
            "position_terms": len(self._pos),
            "phrase_cache_entries": len(self._phrase_cache),
            "encoded_bytes": self._enc.nbytes,
            "decoded_bytes": sum(
                a.nbytes for t in self._decoded.values() for a in t
            ),
            "positions_bytes": sum(
                a.nbytes for t in self._pos.values() for a in t
            ),
            "phrase_cache_bytes": sum(
                d.nbytes for d in self._phrase_cache.values()
            ),
            "generation": self.generation,
            "load_s": self.load_s,
        }

    # -- postings ---------------------------------------------------------

    def _postings(self, term: str):
        """(ids, bm25, tf_norm) for one term, decoded lazily from the
        Arrow-held blobs and memoized; positions are never touched here
        (see ``_positions``). Ids arrive sorted (shard order)."""
        hit = self._decoded.get(term)
        if hit is not None:
            return hit
        rows = self._enc.rows(term)
        if not rows:
            self._decoded[term] = _NO_POSTINGS
            return _NO_POSTINGS
        blob = self._enc.blob
        ids = np.concatenate(
            [codec.delta_decode_ids(blob("doc_ids_enc", r, r + 1))
             for r in rows]
        )
        # float32 blobs of consecutive rows concatenate to one array
        lo, hi = rows.start, rows.stop
        tfs = codec.decode_tfs(blob("tf_enc", lo, hi)).astype(np.float64)
        bms = codec.decode_tfs(blob("bm25_tf_enc", lo, hi)).astype(
            np.float64
        )
        dl = self._doc_lens[np.searchsorted(self._doc_ids, ids)]
        with np.errstate(divide="ignore", invalid="ignore"):
            tfn = np.where(dl > 0, tfs / dl, 0.0)
        out = (ids, bms, tfn)
        self._decoded[term] = out
        return out

    def _positions(self, term: str):
        """(offsets, positions) CSR arrays for one term, aligned with
        ``_postings(term)``'s ids: posting ``i``'s positions are
        ``positions[offsets[i]:offsets[i + 1]]``. Decoded lazily — only
        the phrase path asks — and memoized."""
        hit = self._pos.get(term)
        if hit is not None:
            return hit
        rows = self._enc.rows(term)
        out = codec.decode_positions_csr(
            self._enc.blob("pos_enc", rows.start, rows.stop) if rows else b"",
            self._postings(term)[0].size,
        )
        self._pos[term] = out
        return out

    # -- query components -------------------------------------------------

    def _phrase_docs(self, part: str, stems: list[str]) -> np.ndarray:
        """Sorted doc ids the phrase ``part`` (analyzed to ``stems``)
        matches: the gap-3 matcher over the docs holding every stem,
        cached unbounded."""
        hit = self._phrase_cache.get(part)
        if hit is not None:
            return hit
        uniq = list(dict.fromkeys(stems))
        cand = _NO_IDS
        if uniq:
            cand = self._postings(uniq[0])[0]
            for s in uniq[1:]:
                cand = np.intersect1d(
                    cand, self._postings(s)[0], assume_unique=True
                )
        ok = []
        if cand.size:
            # per stem: positions CSR and each candidate's posting row
            runs = []
            for s in stems:
                off, pos = self._positions(s)
                at = np.searchsorted(self._postings(s)[0], cand)
                runs.append((off[at].tolist(), off[at + 1].tolist(), pos))
            gap = self.cfg.phrase_max_gap
            for j, doc in enumerate(cand.tolist()):
                pls = [sorted(pos[a[j] : b[j]].tolist()) for a, b, pos in runs]
                if phrase_match(pls, gap):
                    ok.append(doc)
        docs = np.asarray(ok, dtype=np.int64) if ok else _NO_IDS
        self._phrase_cache[part] = docs
        return docs

    def _component(self, part: str) -> dict:
        """term -> (ids, bm25, tf_norm) rows for one query component, in
        a fresh dict. A phrase component's rows are its stems' decoded
        postings filtered to the cached matching doc ids."""
        do_stem = self.cfg.stem
        if is_phrase(part):
            stems = query_stems(strip_phrase(part), do_stem)
            docs = self._phrase_docs(part, stems)
            out = {}
            for s in dict.fromkeys(stems):
                ids, bm, tfn = self._postings(s)
                m = np.isin(ids, docs, assume_unique=True)
                out[s] = (ids[m], bm[m], tfn[m])
            return out
        stems = list(dict.fromkeys(query_stems(part, do_stem)))
        out = {}
        for s in stems:
            ids, bm, tfn = self._postings(s)
            if ids.size:
                out[s] = (ids, bm, tfn)
        return out

    @staticmethod
    def _docs_of(comp: dict) -> np.ndarray:
        if not comp:
            return np.empty(0, np.int64)
        return np.unique(np.concatenate([v[0] for v in comp.values()]))

    def search(
        self,
        query: str,
        k: int | None = None,
        mode: str = "bm25",
        page_rank: dict | None = None,
    ) -> list[tuple]:
        """Top-k [(doc_id, rel, page_rank, score)] — rank-identical to
        ``operators.query.search`` (pinned by tests/test_serving.py)."""
        k = k or self.cfg.topk_default
        self.queries += 1
        op, left, right = detect_operator(query)
        comp = self._component(left)
        if op == "OR":
            rm = self._component(right)
            # quirk Q5 union: (doc, term) pairs merge; values identical
            # per pair, so a per-term id-union suffices
            for t, (ids, bm, tfn) in rm.items():
                if t in comp:
                    lids, lbm, ltfn = comp[t]
                    extra = ~np.isin(ids, lids, assume_unique=True)
                    comp[t] = (
                        np.concatenate([lids, ids[extra]]),
                        np.concatenate([lbm, bm[extra]]),
                        np.concatenate([ltfn, tfn[extra]]),
                    )
                else:
                    comp[t] = (ids, bm, tfn)
        elif op in ("AND", "NOT"):
            rdocs = self._docs_of(self._component(right))
            keep = op == "AND"
            out = {}
            for t, (ids, bm, tfn) in comp.items():
                m = np.isin(ids, rdocs, assume_unique=True)
                if not keep:
                    m = ~m
                out[t] = (ids[m], bm[m], tfn[m])
            comp = out  # quirk Q4: left side's data only

        if not comp:
            return []
        pr_map = page_rank if page_rank is not None else self._pr
        id_parts, sc_parts = [], []
        for t, (ids, bm, tfn) in comp.items():
            idf = self._idf.get(t)
            if idf is None or not ids.size:
                continue
            w = bm if mode == "bm25" else tfn
            id_parts.append(ids)
            sc_parts.append(idf * w)
        if not id_parts:
            return []
        all_ids = np.concatenate(id_parts)
        all_sc = np.concatenate(sc_parts)
        uniq, inv = np.unique(all_ids, return_inverse=True)
        rel = np.bincount(inv, weights=all_sc, minlength=uniq.size)
        if pr_map:
            pr = np.asarray([pr_map.get(int(d), 0.0) for d in uniq])
        else:
            pr = np.zeros(uniq.size)
        w_rel = self.cfg.relevance_weight
        w_pr = self.cfg.pagerank_weight
        score = w_rel * rel + w_pr * pr
        from search_engine_spark.operators.wand import _topk

        top_ids, top_scores = _topk(uniq, score, k)
        pos = np.searchsorted(uniq, top_ids)
        return [
            (int(d), float(rel[p]), float(pr[p]), float(s))
            for d, p, s in zip(top_ids, pos, top_scores)
        ]

    def search_paged(
        self, query: str, page: int, size: int, mode: str = "bm25"
    ) -> tuple[list[tuple], int]:
        """R5 pagination, reference semantics (rank the FULL candidate
        set, slice [page·size, page·size+size), beyond-last-page →
        (empty, total)) — same contract as ``operators.query
        .search_paged``, served without a Spark job."""
        if page < 0 or size <= 0:
            raise ValueError(
                f"page must be >= 0 and size >= 1 (got page={page}, "
                f"size={size})"
            )
        full = self.search(query, k=self.n_docs or 1, mode=mode)
        total = len(full)
        start = page * size
        if start >= total:
            return [], total
        return full[start : start + size], total

    def suggest(self, prefix: str, k: int = 10) -> list[str]:
        """U1 prefix suggestion over the served vocabulary, reference
        CASE ordering (exact match, then 'prefix ...' phrases, then the
        rest; alphabetical within a band)."""
        prefix = prefix.lower()
        hits = [t for t in self._idf if t.startswith(prefix)]

        def band(t: str) -> int:
            if t == prefix:
                return 1
            if t.startswith(prefix + " "):
                return 2
            return 3

        hits.sort(key=lambda t: (band(t), t))
        return hits[:k]

    # -- snippets (reference result-page parity) --------------------------

    def attach_docs(
        self,
        path: str,
        text_col: str = "content",
        id_col: str = "doc_id",
    ) -> None:
        """Point the serving node at the source-corpus parquet (the
        index artifacts deliberately do not duplicate document text).
        Snippet fetches read ONLY the requested doc ids via a pyarrow
        dataset filter — parquet row-group statistics prune the read,
        so a k-row result page never scans the corpus."""
        self._docs_path = path
        self._docs_text_col = text_col
        self._docs_id_col = id_col

    def fetch_docs(self, doc_ids: list[int]) -> dict[int, str]:
        """id -> text for the given ids (row-group-pruned read)."""
        if self._docs_path is None:
            raise ValueError(
                "no document store attached — call attach_docs(path) first"
            )
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        tbl = pads.dataset(self._docs_path, format="parquet").to_table(
            columns=[self._docs_id_col, self._docs_text_col],
            filter=pc.field(self._docs_id_col).isin(
                [int(d) for d in doc_ids]
            ),
        )
        return dict(
            zip(
                tbl.column(self._docs_id_col).to_pylist(),
                tbl.column(self._docs_text_col).to_pylist(),
            )
        )

    def snippets(
        self,
        doc_ids: list[int],
        query_words: list[str],
        radius: int = 150,
        strip_html: bool = False,
    ) -> dict[int, str]:
        """Sentence-aligned snippets (reference generateSnippet) for a
        result page — same semantics as the Spark bulk operator
        ``operators.snippets.make_snippets(mode="sentence")``, pinned
        equal by tests/test_serving.py. ``strip_html=True`` runs the
        reference's exact script/style/tag/entity strip first — the
        raw-HTML corpus configuration."""
        from search_engine_spark.functions.snippets_py import (
            NO_PREVIEW,
            sentence_snippet,
        )

        texts = self.fetch_docs(doc_ids)
        return {
            int(d): (
                sentence_snippet(
                    texts[int(d)], query_words, radius=radius,
                    strip_html=strip_html,
                )
                if int(d) in texts
                else NO_PREVIEW
            )
            for d in doc_ids
        }

    def result_page(
        self,
        query: str,
        page: int = 0,
        size: int = 10,
        mode: str = "bm25",
        snippet_words: list[str] | None = None,
        strip_html: bool = False,
    ) -> tuple[list[dict], int]:
        """The reference's full search-response shape
        (SE/BackendManager.java search(): ranked page + snippet per
        row): returns ([{doc_id, rel, page_rank, score, snippet}],
        total). ``snippet_words`` defaults to the query's surface words
        (lowercased, quotes stripped, boolean operators dropped) — the
        reference highlights the raw query words, not their stems."""
        import re as _re

        rows, total = self.search_paged(query, page, size, mode=mode)
        if snippet_words is None:
            snippet_words = [
                w
                for w in _re.findall(r"[\w']+", query.lower())
                if w not in ("and", "or", "not")
            ]
        snips = self.snippets(
            [r[0] for r in rows], snippet_words, strip_html=strip_html
        )
        return (
            [
                {
                    "doc_id": d,
                    "rel": rel,
                    "page_rank": pr,
                    "score": s,
                    "snippet": snips[d],
                }
                for d, rel, pr, s in rows
            ],
            total,
        )

    def cached_search(
        self, query: str, k: int | None = None, mode: str = "bm25"
    ) -> list[tuple]:
        """Q12 LRU regime (1000 entries, like the reference's QP cache):
        a hit does zero decode/score work — the reference's <5 ms
        cached-query path."""
        key = (query, k, mode)
        hit = self._cache.get(key)
        if hit is not None:
            self._cache.move_to_end(key)
            self.queries += 1
            self.cache_hits += 1
            return list(hit)  # copy: callers must not mutate the cache
        self.cache_misses += 1
        res = self.search(query, k=k, mode=mode)
        self._cache[key] = res
        if len(self._cache) > self._cache_size:
            self._cache.popitem(last=False)
        return list(res)


class ServingRouter(ServingIndex):
    """Term-range fan-out over N ``ServingIndex`` shards — the fleet
    design the single-node cell documents: each shard holds ONE
    contiguous term range of the saved codec postings (loaded with the
    ``term_range`` parquet filter — row-group pruned), the router owns
    the query semantics. Composition is by TERM ROUTING, not result
    merging: the router IS a ``ServingIndex`` whose ``_postings(term)``
    and ``_positions(term)`` delegate to the owning shard, so every
    quirk (boolean Q4/Q5, phrase gap-3, Q6 tie-break, LRU + unbounded
    phrase cache) is the inherited single-node code path and
    rank-identity holds by construction (pinned in
    tests/test_serving_router.py).

    In a real fleet ``_postings`` becomes an RPC to the shard node and
    per-term partial scores come back instead of raw postings for
    plain queries; the routing table (contiguous term cut points) and
    the global doc-stats replication are exactly what this class
    models. Shards share the global doc/idf statistics because BM25
    weights are corpus-global — each node loads the (tiny) doc_stats
    and meta artifacts plus only its postings range."""

    def __init__(self, shards: list[ServingIndex]):
        if not shards:
            raise ValueError("need at least one shard")
        first = shards[0]
        idf: dict = {}
        for sh in shards:
            idf.update(sh._idf)
        super().__init__(
            enc_rows={},
            idf=idf,
            doc_ids=first._doc_ids,
            doc_lens=first._doc_lens,
            n_docs=first.n_docs,
            avgdl=first.avgdl,
            cfg=first.cfg,
            page_rank=first._pr or None,
        )
        self._pr_explicit = first._pr_explicit
        self._shards = shards
        # routing table: shard i serves terms < _cuts[i] (last shard
        # unbounded); shards were loaded with contiguous [lo, hi) ranges
        self._cuts = [
            max(sh._idf) if sh._idf else "" for sh in shards[:-1]
        ]

    @classmethod
    def load(
        cls,
        path: str,
        n_shards: int = 2,
        page_rank: dict | None = None,
    ) -> "ServingRouter":
        """Split the saved index's vocabulary into ``n_shards``
        contiguous equal-count term ranges and load one ServingIndex
        per range (each reads only its postings rows)."""
        t0 = time.perf_counter()
        ts = _read_parquet(os.path.join(path, "term_stats"), ["term"])
        terms = sorted(ts.column("term").to_pylist())
        if not terms:
            shards = [ServingIndex.load(path, page_rank=page_rank)]
        else:
            n_shards = max(1, min(n_shards, len(terms)))
            cut_idx = [
                (i * len(terms)) // n_shards for i in range(1, n_shards)
            ]
            cuts = [terms[i] for i in cut_idx]
            bounds = [None, *cuts]
            shards = [
                ServingIndex.load(
                    path,
                    page_rank=page_rank,
                    term_range=(
                        bounds[i], cuts[i] if i < len(cuts) else None
                    ),
                )
                for i in range(n_shards)
            ]
        r = cls(shards)
        r.load_s = time.perf_counter() - t0
        return r

    @classmethod
    def load_latest(
        cls,
        root: str,
        n_shards: int = 2,
        page_rank: dict | None = None,
    ) -> "ServingRouter":
        """Shard fleet over the generation the publish pointer names;
        ``refresh()`` re-splits the fleet when a newer generation is
        published (every node reloads its term range — the real fleet's
        rolling-restart moment)."""
        from search_engine_spark.publish import (
            latest_index_path,
            read_latest,
        )

        r = cls.load(
            latest_index_path(root), n_shards=n_shards, page_rank=page_rank
        )
        r.generation = read_latest(root)["generation"]
        r._root = root
        r._n_shards = n_shards
        r._pr_explicit = page_rank is not None
        return r

    def refresh(self) -> bool:
        if self._root is None:
            raise ValueError(
                "refresh() needs a router loaded via load_latest(root)"
            )
        from search_engine_spark.publish import read_latest

        ptr = read_latest(self._root)
        if ptr is None or ptr["generation"] == self.generation:
            return False
        self._swap(
            ServingRouter.load_latest(
                self._root,
                n_shards=self._n_shards,
                page_rank=self._pr if self._pr_explicit else None,
            )
        )
        return True

    def _shard(self, term: str) -> ServingIndex:
        import bisect

        # _cuts[i] = shard i's max term: bisect_left sends a term equal
        # to a shard's max INTO that shard, anything beyond to the next
        i = bisect.bisect_left(self._cuts, term)
        return self._shards[min(i, len(self._shards) - 1)]

    def _postings(self, term: str):
        hit = self._decoded.get(term)
        if hit is None:
            hit = self._decoded[term] = self._shard(term)._postings(term)
        return hit

    def _positions(self, term: str):
        hit = self._pos.get(term)
        if hit is None:
            hit = self._pos[term] = self._shard(term)._positions(term)
        return hit

    def stats(self) -> dict:
        out = super().stats()
        out["encoded_bytes"] = sum(sh._enc.nbytes for sh in self._shards)
        return out
