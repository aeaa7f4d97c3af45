"""PII/toxicity scrubbing core — compiled regexes + batch apply.

Shared by the Spark scoring UDF (stages/score.py) and the
pure-pandas oracle (oracle/quality_oracle.py) so scrubbed text is
byte-identical per url by construction (tests additionally compare
against independently stored golden bytes, the reference's golden-hash
pattern — reference: tests/integrations/test_all.py:24-25,58-61).

Patterns are intentionally RE2-compatible (no backrefs/lookaround) so
the same semantics can be expressed in DuckDB SQL for the driver's
oracle comparison and in Spark's JVM regexp_replace for the
native-expression variant.
"""

from __future__ import annotations

import re

import pandas as pd

# Order matters: emails before phones/ids so an address is consumed whole.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# no leading \b: it would fail before "(" (two non-word chars)
PHONE_RE = r"(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"
TOXIC_WORDS = ("idiot", "moron", "stupid", "dumb", "jerk", "loser")
TOXIC_RE = r"(?i)\b(?:" + "|".join(TOXIC_WORDS) + r")\b"

# (name, pattern, replacement) in application order.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    ("emails", EMAIL_RE, "<EMAIL>"),
    ("ids", SSN_RE, "<ID>"),
    ("phones", PHONE_RE, "<PHONE>"),
    ("toxic", TOXIC_RE, "<TOX>"),
)

_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in SCRUB_RULES]


# Cheap candidate prefilter for the email/id/phone rules: all three
# require an '@' or a digit, and no replacement token (<EMAIL>, <ID>,
# <PHONE>, <TOX>) introduces either, so a single character-class scan
# of the ORIGINAL text yields a superset of matching rows for every
# later pass. Web corpora are mostly PII-free, so this removes ~3 full
# regex scans per batch (~4x faster scrub, byte-identical output).
_PII_CANDIDATE = re.compile(r"[@0-9]")


def scrub_series(texts: pd.Series) -> tuple[pd.Series, pd.DataFrame]:
    """Scrub a batch. Returns (scrubbed_text, counts[emails,ids,phones,toxic])."""
    out = texts.fillna("")
    zeros = pd.Series(0, index=out.index, dtype="int64")
    cand = out.str.contains(_PII_CANDIDATE, regex=True)
    counts = {}
    for name, rx, repl in _COMPILED:
        sel = slice(None) if name == "toxic" else cand
        c = zeros.copy()
        sub = out[sel] if name != "toxic" else out
        c.loc[sub.index] = sub.str.count(rx).astype("int64")
        counts[name] = c
        hit = c > 0
        if hit.any():
            out = out.copy()
            out.loc[hit] = out.loc[hit].str.replace(rx, repl, regex=True)
    return out, pd.DataFrame(counts)
