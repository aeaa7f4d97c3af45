"""Pipeline configuration.

The reference keys its run-level cache on a fingerprint of
(dataset, prompt fn, model, generation params) — see
reference: src/bespokelabs/curator/llm/llm.py:147-172. Our analog is a
frozen dataclass of every threshold/knob that affects output; its
stable JSON serialization feeds the run fingerprint
(`pipeline/fingerprint.py`).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class QualityConfig:
    """All knobs of the quality-filter pipeline. Frozen => hashable."""

    # language-ID
    langs: tuple[str, ...] = ("en", "de", "fr", "es", "it")
    target_lang: str = "en"
    langid_min_score: float = 0.30  # softmax confidence floor

    # perplexity (character bigram LM, English-trained).
    # Calibrated on the synthetic corpus: clean-English p99 ≈ 274,
    # non-English median ≈ 415 (must PASS so langid attributes it),
    # gibberish p1 ≈ 1580 (must FAIL).
    max_perplexity: float = 600.0

    # Gopher/C4-style heuristic rules (native Catalyst expressions)
    min_words: int = 10
    max_words: int = 100_000
    min_mean_word_length: float = 2.5
    max_mean_word_length: float = 10.0
    max_symbol_to_word_ratio: float = 0.10
    max_repeated_line_fraction: float = 0.30
    min_stopword_density: float = 0.05

    # partitioning / layout
    n_buckets: int = 32

    # failure handling (analog of reference require_all_responses,
    # reference: request_processor/config.py:30)
    require_all_rows: bool = True

    def stable_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True, separators=(",", ":"))


DEFAULT_CONFIG = QualityConfig()

# Ordered drop-reason precedence: first failing check wins.
DROP_REASON_ORDER: tuple[str, ...] = (
    "perplexity",
    "langid",
    "rule:word_count",
    "rule:mean_word_length",
    "rule:symbol_ratio",
    "rule:repeated_lines",
    "rule:stopword_density",
)
