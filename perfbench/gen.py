"""Seeded input generators. The same (seed, size) always yields the
same rows, so a run is reproducible from its command line alone."""

from __future__ import annotations

import math
import os
import random
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from curator_spark.engine.synth import make_row
from curator_spark.functions.scrub_core import SCRUB_RULES, TOXIC_WORDS
from curator_spark.models.corpora import STOPWORDS, WORDS

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
_STRIDE = 1_000_003


def _html(body: str) -> bytes:
    return f"<html><head><title>t</title></head><body>{body}</body></html>".encode()


def write_parquet(df: pd.DataFrame, path: str, n_files: int, schema=None) -> None:
    """Write `df` as `n_files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), max(1, n_files))):
        t = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{k:05d}.parquet"))


# -- crawl_batch / crawl_incremental: the FIXTURES mix ----------------------

def crawl_pages(start: int, n: int, seed: int) -> pd.DataFrame:
    """Rows [start, start+n) of engine.synth's deterministic page mix."""
    return pd.DataFrame([make_row(i, seed) for i in range(start, start + n)])[PAGE_COLS]


# -- crawl_heavy: long, PII-dense pages with non-ASCII neighbours -----------

_EN = WORDS["en"]
_OTHER = ("de", "fr", "es", "it")


def _pii_token(rng: random.Random) -> str:
    d = rng.randint
    kind = rng.randrange(9)
    if kind == 0:
        return f"{rng.choice(_EN)}{d(0, 99)}@mail{d(0, 9)}.example.com"
    if kind == 1:
        return f"{d(100, 899)}-{d(10, 99)}-{d(1000, 9999)}"
    if kind == 2:
        return f"{d(100, 899)}-{d(10, 99)}-{d(1000, 9999)}é"
    if kind == 3:
        return f"({d(200, 989)}) {d(200, 999)}-{d(1000, 9999)}"
    if kind == 4:
        return f"{d(200, 989)}-{d(200, 999)}-{d(1000, 9999)}ü"
    if kind == 5:
        return f"+1 {d(200, 989)}.{d(200, 999)}.{d(1000, 9999)}"
    w = rng.choice(TOXIC_WORDS)
    if kind == 6:
        return w.upper()
    if kind == 7:
        return rng.choice(("é", "à", "ñ")) + w
    return w + rng.choice(("à", "é", "ö"))


def heavy_row(i: int, seed: int) -> dict:
    rng = random.Random(seed * _STRIDE + i + 7_777_777)
    if rng.random() < 0.04:
        n = rng.randint(2000, 6000)
    else:
        n = max(40, min(1500, int(rng.lognormvariate(math.log(280), 0.45))))
    lang = "en" if rng.random() < 0.85 else rng.choice(_OTHER)
    words = []
    for k in range(n):
        if lang != "en":
            words.append(rng.choice(WORDS[lang]))
        elif k % 4 == 1:
            words.append(rng.choice(STOPWORDS))
        else:
            words.append(rng.choice(_EN))
    if rng.random() < 0.45:
        for _ in range(rng.randint(1, 2 + n // 150)):
            words.insert(rng.randint(0, len(words)), _pii_token(rng))
    # paragraph breaks every 40-80 words
    pos, lines = 0, []
    while pos < len(words):
        step = rng.randint(40, 80)
        lines.append(" ".join(words[pos : pos + step]))
        pos += step
    text = "\n".join(lines)
    malformed = rng.random() < 0.01
    body = f"<div>{text}</div>" if malformed else f"<p>{text}</p>"
    domain = f"heavy{rng.randrange(200):03d}.example.net"
    return {
        "url": f"https://{domain}/a/{i}",
        "warc_ts": pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(seconds=i),
        "html": _html(body),
        "text": text,
        "lang": lang,
        "malformed": malformed,
    }


def heavy_pages(n: int, seed: int) -> pd.DataFrame:
    return pd.DataFrame([heavy_row(i, seed) for i in range(n)])


# -- text_ops: the `documents` table ----------------------------------------

# The mix is calibrated on the sf0.1 `documents` table of the test data
# (TESTDATA.md; 5,000 docs), the table bench.py's query suite runs on.
# Measured there: one line per doc, ASCII only; 10-100 words drawn
# uniformly (p50 54, p99 99); 31 distinct words, each 1.8% of the
# tokens, two of them stopwords ("the", "a"); 0.16% of docs are exact
# copies of another doc (8 pairs) and 5% are near duplicates, a copy of
# another doc with one extra word appended; 41% `en` and about 15% each
# `de`, `es`, `fr`, `zh`; 20 sources of 250 docs. Boilerplate segments,
# shared substrings and eval overlap are not injected there: they occur
# by chance in a 31-word vocabulary (see README.md for the query
# outcomes of both tables side by side).
#
# The one departure: sf0.1 has no long documents, while the
# word-array lambdas of the dedup and train-prep queries cost
# O(words^2) per document. So 1% of the docs (every 100th, by position)
# are 200-400 words long, evenly spread. The share is a choice, not a
# measurement; each run records words_max and long_doc_share so a
# claim can say how much of its gain the tail carries.
EVAL_MOD = 29  # queries/trainprepq.py: doc_id % 29 == 0 is the eval split
DOC_VOCAB = 30  # distinct words, two of them stopwords (plus a marker word)
_DOC_LANGS = ("en", "de", "es", "fr", "zh")
_DOC_LANG_W = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_EXACT_MOD, _NEAR_MOD, _LONG_MOD = 625, 20, 100


def documents(n: int, seed: int) -> pd.DataFrame:
    """doc_id, text, lang, source, n_chars in the sf0.1 mix above, plus
    the 1% tail of long docs. Which rows are duplicates, near
    duplicates or long is fixed by position, not drawn, so the share of
    each does not depend on the seed; the seed picks the vocabulary and
    the words."""
    rng = random.Random(seed * _STRIDE + 424_242)
    stop = [w for w in _EN if w in STOPWORDS]
    content = [w for w in _EN if w not in STOPWORDS]
    picked = rng.sample(content, DOC_VOCAB - 1)
    vocab, marker = rng.sample(stop, 2) + picked[:-1], picked[-1]
    n_long = max(1, n // _LONG_MOD)
    texts: list[str] = []
    # duplicates copy only 10-100-word docs, each at most once, so that
    # two near duplicates of one doc are not exact copies of each other
    copyable: list[int] = []
    for i in range(n):
        # position 12 first, so that a table of the benchmark's size
        # holds an exact duplicate for the dedup checks to see
        if copyable and i % _EXACT_MOD == 12:
            text = texts[copyable.pop(rng.randrange(len(copyable)))]
        elif copyable and i % _NEAR_MOD == 7:
            text = texts[copyable.pop(rng.randrange(len(copyable)))] + " " + marker
        else:
            if i % _LONG_MOD == 53:
                nw = 200 + (200 * (i // _LONG_MOD)) // n_long
            else:
                nw = rng.randint(10, 100)
                copyable.append(i)
            text = " ".join(rng.choice(vocab) for _ in range(nw))
        texts.append(text)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choices(_DOC_LANGS, _DOC_LANG_W, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# -- input properties --------------------------------------------------------

_PII_RES = [re.compile(pat) for _, pat, _ in SCRUB_RULES]


def properties(texts: list[str], oracle: pd.DataFrame | None, malformed: int = 0) -> dict:
    """The input properties a workload's cost depends on. The PII-row
    share comes from the oracle's scrub counts when there is one."""
    words = np.array([len(t.split()) for t in texts]) if texts else np.zeros(1)
    if oracle is not None:
        counts = oracle[["scrub_emails", "scrub_ids", "scrub_phones", "scrub_toxic"]]
        pii = int((counts.sum(axis=1) > 0).sum())
    else:
        pii = sum(any(rx.search(t) for rx in _PII_RES) for t in texts)
    return {
        "docs": len(texts),
        "chars": int(sum(len(t) for t in texts)),
        "words_p50": float(np.percentile(words, 50)),
        "words_p99": float(np.percentile(words, 99)),
        "words_max": int(words.max()),
        "long_doc_share": float((words > 100).mean()),
        "pii_row_share": pii / max(1, len(texts)),
        "non_ascii_row_share": sum(not t.isascii() for t in texts) / max(1, len(texts)),
        "malformed_html": int(malformed),
    }
