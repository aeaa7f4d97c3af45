"""Batch-vectorized char-n-gram machinery (numpy, float64, deterministic).

This is the compute core of the langid and perplexity stages. It is the
Spark-first restatement of the reference's only batched execution path —
the offline vLLM processor, which loads a model once per worker and
scores a whole list of prompts in one call
(reference: src/bespokelabs/curator/request_processor/offline/
vllm_offline_request_processor.py:41-53,167-201). Here the "model" is a
dense log-probability table and "scoring a batch" is pure numpy over the
concatenated codepoint buffer of an Arrow batch — no per-row Python in
the hot path.

Both the Spark scoring UDF (stages/score.py) and the pure-pandas
oracle (oracle/quality_oracle.py) call these functions, so float64
results are bit-identical between pipeline and oracle: same code, same
summation order (np.cumsum is sequential).
"""

from __future__ import annotations

import numpy as np

from curator_spark.models.corpora import WORDS

# ---------------------------------------------------------------------------
# Alphabet: index 0 = any other character, index 1 = space, then letters.
# Uppercase and accented-uppercase codepoints map to the same index as
# their lowercase form (case folding happens in the lookup table, not via
# a per-row .lower() pass).
# ---------------------------------------------------------------------------
_LETTERS = "abcdefghijklmnopqrstuvwxyzäöüßàâçéèêëîïôùûñáíóúìò'"
ALPHABET_SIZE = 2 + len(_LETTERS)  # other + space + letters


_LUT_SIZE = 1 << 16  # all mapped codepoints are in the BMP


def _build_lookup() -> np.ndarray:
    """Dense codepoint→index table (256 KiB int32). A single gather
    per batch; the sorted-array + searchsorted alternative measured
    ~2 s per 8.6M chars (binary search per codepoint) vs ~0.05 s for
    the dense take — encoding was the whole-pipeline hot spot."""
    pairs: dict[int, int] = {ord(" "): 1}
    for i, ch in enumerate(_LETTERS):
        idx = 2 + i
        pairs[ord(ch)] = idx
        up = ch.upper()
        if len(up) == 1 and up != ch:
            pairs[ord(up)] = idx
    lut = np.zeros(_LUT_SIZE + 1, dtype=np.int32)  # slot _LUT_SIZE = other
    for cp, val in pairs.items():
        lut[cp] = val
    return lut


_CP_LUT = _build_lookup()


def encode_texts(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Encode a batch of strings into one flat int32 index array.

    Returns (codes, offsets) where row r occupies codes[offsets[r]:offsets[r+1]].
    One encode pass for the whole batch: join → utf-32 → vectorized lookup.
    """
    n = len(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    joined = "".join(texts)
    if not joined:
        return np.zeros(0, dtype=np.int32), offsets
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    codes = _CP_LUT[np.minimum(cp, _LUT_SIZE).astype(np.int64)]
    return codes, offsets


def _gather_padded(table: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """float64 table[idx] (along axis 0) plus one trailing zero row, for
    _segment_sums. The gather writes straight into the padded buffer,
    so the (n_idx x n_langs) matrix is written once and never copied
    again just to append the pad row. Indices are always in
    range (hashed or bigram ids), so mode="clip" changes no value; it
    only lets np.take write into `out` without a temporary."""
    table = np.asarray(table, dtype=np.float64)
    out = np.empty((len(idx) + 1,) + table.shape[1:], dtype=np.float64)
    np.take(table, idx, axis=0, out=out[:-1], mode="clip")
    out[-1] = 0.0
    return out


def _segment_sums(padded: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per-row sums of padded[starts[r]:ends[r]] along axis 0 (float64).

    `padded` comes from _gather_padded: its trailing zero row keeps an
    end index == the gathered length in bounds. Uses np.add.reduceat so
    each segment is reduced INDEPENDENTLY — the per-row result is a
    pure function of that row's values, not of batch composition (a
    whole-batch cumsum would leak prefix rounding across rows and
    break partitioning-independence of the scores).
    """
    out = np.zeros((len(starts),) + padded.shape[1:], dtype=np.float64)
    nonempty = ends > starts
    if not nonempty.any():
        return out
    bounds = np.empty(2 * int(nonempty.sum()), dtype=np.int64)
    bounds[0::2] = starts[nonempty]
    bounds[1::2] = ends[nonempty]
    out[nonempty] = np.add.reduceat(padded, bounds, axis=0)[0::2]
    return out


# ---------------------------------------------------------------------------
# Model training (deterministic, hermetic — built from embedded corpora).
# ---------------------------------------------------------------------------

def _corpus_text(lang: str) -> str:
    return " " + " ".join(WORDS[lang]) + " "


# Trigram ids are hashed into a small bucket space so the per-language
# profile is 16k floats (64 KiB float32) instead of K^3 = 140k doubles:
# with many scoring workers per box, dense tables thrash the shared L3
# (measured: langid throughput scaled at only ~0.45 efficiency 4->16
# procs with dense f64 tables). Multiplicative hashing (Knuth) is
# deterministic, so trainer and scorer — and the shared-code oracle —
# agree everywhere.
TRI_BUCKETS = 1 << 14
_HASH_MULT = np.int64(2654435761)


def _tri_hash(codes: np.ndarray) -> np.ndarray:
    k = ALPHABET_SIZE
    tri = (
        codes[:-2].astype(np.int64) * k * k
        + codes[1:-1].astype(np.int64) * k
        + codes[2:].astype(np.int64)
    )
    # int32 indices: bucket ids fit in 14 bits; halves the index-array
    # memory traffic in the gather-heavy scoring loop
    return (((tri * _HASH_MULT) >> 7) & (TRI_BUCKETS - 1)).astype(np.int32)


def train_langid_table(langs: tuple[str, ...], alpha: float = 0.5) -> np.ndarray:
    """Hashed char-trigram log-prob table, shape (n_langs, TRI_BUCKETS),
    float32 (the log-space profile tolerates f32; scoring accumulates
    in f64)."""
    table = np.empty((len(langs), TRI_BUCKETS), dtype=np.float32)
    for li, lang in enumerate(langs):
        codes, _ = encode_texts([_corpus_text(lang)])
        hb = _tri_hash(codes)
        counts = np.zeros(TRI_BUCKETS, dtype=np.float64)
        np.add.at(counts, hb, 1.0)
        total = counts.sum()
        table[li] = np.log(
            (counts + alpha) / (total + alpha * TRI_BUCKETS)
        ).astype(np.float32)
    return table


def train_bigram_lm(lang: str = "en", alpha: float = 0.5) -> np.ndarray:
    """Char-bigram LM log-prob table for perplexity, shape (K**2,)."""
    k = ALPHABET_SIZE
    codes, _ = encode_texts([_corpus_text(lang)])
    bi = codes[:-1].astype(np.int64) * k + codes[1:].astype(np.int64)
    counts = np.zeros(k**2, dtype=np.float64)
    np.add.at(counts, bi, 1.0)
    total = counts.sum()
    return np.log((counts + alpha) / (total + alpha * k**2))


# Module-level caches: built once per Python worker process, reused across
# Arrow batches (the reference's "load the model once" — vllm_offline:41-53).
_LANGID_CACHE: dict[tuple[str, ...], np.ndarray] = {}
_LM_CACHE: dict[str, np.ndarray] = {}
_TABLE_T_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _table_t_cache(table: np.ndarray) -> np.ndarray:
    """(TRI_BUCKETS, n_langs) float64 transpose of a langid table,
    cached per table object (f32->f64 is exact, so scoring from the
    transpose is value-identical)."""
    key = id(table)
    hit = _TABLE_T_CACHE.get(key)
    if hit is None or hit[0] is not table:
        _TABLE_T_CACHE[key] = (
            table,
            np.ascontiguousarray(table.T.astype(np.float64)),
        )
    return _TABLE_T_CACHE[key][1]


def get_langid_table(langs: tuple[str, ...]) -> np.ndarray:
    if langs not in _LANGID_CACHE:
        _LANGID_CACHE[langs] = train_langid_table(langs)
    return _LANGID_CACHE[langs]


def get_bigram_lm(lang: str = "en") -> np.ndarray:
    if lang not in _LM_CACHE:
        _LM_CACHE[lang] = train_bigram_lm(lang)
    return _LM_CACHE[lang]


def save_artifacts(path: str, langs: tuple[str, ...]) -> None:
    """Persist model tables to an .npz for spark-submit --files shipping."""
    np.savez_compressed(
        path, langid=get_langid_table(langs), lm=get_bigram_lm(), langs=np.array(langs)
    )


def load_artifacts(path: str) -> tuple[np.ndarray, np.ndarray, tuple[str, ...]]:
    z = np.load(path, allow_pickle=False)
    return z["langid"], z["lm"], tuple(str(x) for x in z["langs"])


# ---------------------------------------------------------------------------
# Batched scoring.
# ---------------------------------------------------------------------------

def langid_scores(
    texts: list[str],
    langs: tuple[str, ...],
    table: np.ndarray | None = None,
    encoded: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Predict (lang_index, confidence) per row, fully vectorized.

    Confidence is the softmax over per-language mean trigram
    log-likelihoods. Rows with <3 encodable chars get (-1, 0.0).
    Pass `encoded=(codes, offsets)` to reuse a shared encode pass.
    """
    if table is None:
        table = get_langid_table(langs)
    codes, offsets = encoded if encoded is not None else encode_texts(texts)
    n = len(texts)
    if len(codes) < 3:
        return np.full(n, -1, dtype=np.int64), np.zeros(n, dtype=np.float64)
    tri = _tri_hash(codes)
    # Trigram t starts at char position t; valid for row r if t+2 < offsets[r+1].
    starts = np.minimum(offsets[:-1], len(tri))
    ends = np.minimum(np.maximum(offsets[1:] - 2, offsets[:-1]), len(tri))
    counts = (ends - starts).astype(np.float64)
    safe = np.maximum(counts, 1.0)
    # One gather + one reduceat for ALL languages: table transposed to
    # (TRI_BUCKETS, n_langs) f64 (L2-resident), so each trigram reads
    # one contiguous row instead of n_langs scattered f32 loads across
    # n_langs separate passes — ~2x less memory traffic, which is what
    # bounds scaling when 16+ scoring workers share one socket.
    # reduceat(axis=0) adds rows sequentially per column, the same
    # per-language summation order as the per-lang loop it replaces
    # (f32->f64 is exact), so scores are bit-identical.
    g = _gather_padded(_table_t_cache(table), tri)  # (n_tri + 1, n_langs)
    mean_ll = _segment_sums(g, starts, ends).T
    mean_ll /= safe
    # softmax over languages per row
    mx = mean_ll.max(axis=0)
    ex = np.exp(mean_ll - mx)
    conf = ex.max(axis=0) / ex.sum(axis=0)
    pred = mean_ll.argmax(axis=0)
    empty = counts < 1.0
    pred[empty] = -1
    conf[empty] = 0.0
    return pred, conf


def perplexities(
    texts: list[str],
    lm: np.ndarray | None = None,
    encoded: tuple[np.ndarray, np.ndarray] | None = None,
) -> np.ndarray:
    """Char-bigram perplexity per row (English LM). <2 chars → 1e9."""
    if lm is None:
        lm = get_bigram_lm()
    k = ALPHABET_SIZE
    codes, offsets = encoded if encoded is not None else encode_texts(texts)
    n = len(texts)
    if len(codes) < 2:
        return np.full(n, 1e9, dtype=np.float64)
    bi = codes[:-1].astype(np.int64) * k + codes[1:].astype(np.int64)
    starts = np.minimum(offsets[:-1], len(bi))
    ends = np.minimum(np.maximum(offsets[1:] - 1, offsets[:-1]), len(bi))
    counts = (ends - starts).astype(np.float64)
    sums = _segment_sums(_gather_padded(lm, bi), starts, ends)
    out = np.exp(-sums / np.maximum(counts, 1.0))
    out[counts < 1.0] = 1e9
    return out
