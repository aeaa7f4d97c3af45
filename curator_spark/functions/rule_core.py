"""Gopher/C4 rule statistics over an Arrow batch of texts.

The pipeline's rule stats come out of the fused scoring UDF
(stages/score.py, output group `rules`): the batch's text is already in
the Python worker for the models, so the five stats are computed there
from Arrow C++ kernels instead of five more JVM regex/split passes over
the same text. Nothing here loops over rows in Python; each stat is a
kernel over the whole batch plus a `np.bincount` by row.

Values are those of the native Catalyst expressions
(functions/textstats.py, `all_stats(fast=True)`) and of the oracle's
`_stats_row`:
- words are the maximal runs of non-whitespace, whitespace being
  exactly Java's `\\s` (space, `\\t\\n\\x0b\\f\\r`), which is the set
  `ascii_split_whitespace` splits on; NBSP, U+0085, U+3000 and `\\x1c`
  are word characters;
- lengths count code points (Spark's `length`);
- stopword matching folds ASCII case only, like the JVM's `(?i)`;
- a line is a `\\n`-separated piece that is not empty after trimming
  spaces only;
- NULL text has word_count -1 and 0.0 for the four ratios.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from curator_spark.functions.textstats import SYMBOL_CLASS
from curator_spark.models.corpora import STOPWORDS

_STOPWORDS = pa.array(STOPWORDS, pa.string())


def _repeated_line_fraction(texts: pa.Array) -> np.ndarray:
    """(lines - distinct lines) / lines per row. A row with no `\\n` has
    at most one line, so only rows holding one are split."""
    n = len(texts)
    out = np.zeros(n, dtype=np.float64)
    multi = np.flatnonzero(
        pc.fill_null(pc.match_substring(texts, "\n"), False).to_numpy(
            zero_copy_only=False
        )
    )
    if not multi.size:
        return out
    split = pc.split_pattern(texts.take(multi), "\n")
    lines = pc.list_flatten(split)
    real = pc.not_equal(pc.utf8_trim(lines, " "), "")
    t = pa.table(
        {"row": pc.list_parent_indices(split), "line": lines}
    ).filter(real)
    total = np.bincount(t["row"].to_numpy(), minlength=len(multi))
    distinct = np.bincount(
        t.group_by(["row", "line"]).aggregate([])["row"].to_numpy(),
        minlength=len(multi),
    )
    out[multi] = np.divide(
        total - distinct, total, out=np.zeros(len(multi)), where=total > 0
    )
    return out


def rule_stats(texts: pa.Array) -> dict[str, np.ndarray]:
    """The five rule stats of every text in the batch, keyed by name in
    stages.rules.STAT_COLS order."""
    n = len(texts)
    valid = texts.is_valid().to_numpy(zero_copy_only=False)
    tokens = pc.ascii_split_whitespace(texts)
    words = pc.list_flatten(tokens)
    rows = pc.list_parent_indices(tokens).to_numpy()
    lengths = pc.utf8_length(words).to_numpy()
    # the split keeps an empty token at a leading/trailing whitespace run
    is_word = lengths > 0
    wc = np.bincount(rows[is_word], minlength=n)
    non_ws = np.bincount(rows, weights=lengths, minlength=n)
    stop = pc.is_in(pc.ascii_lower(words), value_set=_STOPWORDS).to_numpy(
        zero_copy_only=False
    )
    hits = np.bincount(rows[stop], minlength=n)
    symbols = pc.fill_null(pc.count_substring_regex(texts, SYMBOL_CLASS), 0)

    def per_word(count) -> np.ndarray:
        return np.divide(count, wc, out=np.zeros(n), where=wc > 0)

    return {
        "word_count": np.where(valid, wc, -1).astype(np.int32),
        "mean_word_length": per_word(non_ws),
        "symbol_ratio": per_word(symbols.to_numpy()),
        "repeated_line_fraction": _repeated_line_fraction(texts),
        "stopword_density": per_word(hits),
    }
