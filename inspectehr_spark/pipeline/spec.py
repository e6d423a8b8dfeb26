"""The pipeline's algorithm SPEC — single source of truth for constants,
regex chains, model tables and thresholds.

Both implementations — the distributed Spark pipeline (run.py / models.py /
scrub.py) and the independent serial labeler (reference.py) — implement
THIS spec with separate code. The F1 / byte-identity contract is tested
between the two (tests/test_pipeline.py), mirroring how the build is graded
against the reference's labels.

Determinism rules baked into the spec:
- integer model weights (bigram profiles, token costs) so scores are exact
  int64 sums — no float summation-order sensitivity between numpy matrix
  math and serial loops;
- threshold comparisons on raw doubles produced by the *same* arithmetic
  expression shape on both sides;
- ASCII-safe regexes that behave identically under Java regex and Python re.
"""

from __future__ import annotations

import zlib

# --- extraction ------------------------------------------------------------
# Pages are <p>-wrapped with HTML-escaped text (corpus.py). Extraction =
# bytes → utf-8 → first <p>…</p> span → unescape. Deterministic, order-fixed.
P_OPEN, P_CLOSE = "<p>", "</p>"
UNESCAPES = (("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&"))  # amp LAST


def extract_text_py(html: bytes) -> str:
    """Serial extraction (also the exact behavior models.map_extract_score
    batches)."""
    s = html.decode("utf-8", errors="strict")
    i = s.find(P_OPEN)
    j = s.find(P_CLOSE, i + len(P_OPEN)) if i >= 0 else -1
    if i < 0 or j < 0:
        return ""
    out = s[i + len(P_OPEN) : j]
    for a, b in UNESCAPES:
        out = out.replace(a, b)
    return out


# --- heuristic thresholds (Gopher/C4-style) ---------------------------------
LEN_LO, LEN_HI = 100.0, 20000.0           # chars
TOK_LO, TOK_HI = 10.0, 50000.0            # tokens
MWL_LO, MWL_HI = 2.0, 12.0                # mean word length
SYM_HI = 0.20                             # symbol ratio
SW_LO = 0.02                              # stopword ratio
DUPNG_HI = 0.30                           # duplicated 3-gram fraction
PPL_HI = 620.0                            # mean token cost ("perplexity")
TS_LO_ISO, TS_HI_ISO = "1990-01-01T00:00:00", "2030-01-01T00:00:00"

ALLOWED_LANGS = ("de", "en", "es", "fr")

# Check codes in decision order (first_fail_code = min by this name set; we
# use lexicographic min, matching operators/scoring.py).
CHECKS = (
    "doc_length", "word_count", "mean_word_length", "symbol_ratio",
    "stopword_ratio", "dup_ngram_frac", "lang_allowed", "langid_agree",
    "perplexity", "warc_ts_bounds", "exact_duplicate",
)

# --- langid model (fastText stand-in) ---------------------------------------
# Char-bigram multinomial with INTEGER weights, profiles derived from the
# public per-language word pools. score(doc, L) = Σ_b count_doc(b)·W[L][b];
# winner = argmax, ties → lexicographically smaller code; no bigrams → "und".
LANGS = ("de", "en", "es", "fr", "it", "nl")

_PROFILE_SOURCES = {
    "en": "the a of and to in is that it for house water light market garden "
          "street number people world about report value",
    "de": "der die das und ist von mit den ein eine haus wasser licht markt "
          "garten bericht welt leute nummer wert über nicht",
    "fr": "le la les de et un une est dans que maison eau marché jardin rue "
          "monde gens rapport valeur nombre pour pas",
    "es": "el la los las de y un una es en casa agua luz mercado calle mundo "
          "gente informe valor número para no",
    "it": "il la di e che casa acqua mondo gente numero per non valore mercato",
    "nl": "de het een van en is huis water wereld mensen nummer waarde markt "
          "straat",
}


def _bigrams(s: str) -> list[str]:
    padded = f" {s} "
    return [padded[i : i + 2] for i in range(len(padded) - 1)]


def build_profiles() -> tuple[list[str], dict[str, dict[str, int]]]:
    """Return (sorted vocab of bigrams, {lang: {bigram: int weight}}).
    Weight = 1 + count of the bigram in the language's profile string —
    integers only, so scoring is exact in any summation order."""
    profiles: dict[str, dict[str, int]] = {}
    vocab: set[str] = set()
    for lang in LANGS:
        counts: dict[str, int] = {}
        for b in _bigrams(_PROFILE_SOURCES[lang]):
            counts[b] = counts.get(b, 0) + 1
        profiles[lang] = counts
        vocab.update(counts)
    return sorted(vocab), profiles


# --- perplexity model (KenLM stand-in) ---------------------------------------
# Integer per-token cost; doc "perplexity" = Σcost / n_tokens (double,
# single division — deterministic). In-vocabulary tokens are cheap,
# out-of-vocabulary cost is a crc32-derived pseudo-random in [400, 1300).
_KNOWN_VOCAB = frozenset(
    w for src in _PROFILE_SOURCES.values() for w in src.split()
)


def token_cost(tok: str) -> int:
    t = tok.lower()
    if t in _KNOWN_VOCAB:
        return 100 + (zlib.crc32(t.encode("utf-8")) % 200)
    return 400 + (zlib.crc32(t.encode("utf-8")) % 900)


# --- PII/toxicity scrub chain -------------------------------------------------
# Ordered (pattern, replacement); applied strictly in order. Engine
# parity rules (Spark regexp_replace = Java defaults vs the Python
# serial labeler): \b is Unicode-aware in BOTH engines' defaults (the
# labeler compiles with default flags — re.ASCII would diverge), and
# case-insensitivity is expressed with explicit [cC] classes, NEVER
# (?i), whose case folding differs (Python folds ſ→s, Java doesn't
# without UNICODE_CASE). Verified by a non-ASCII adversarial fuzz in
# addition to the byte-parity property tests. The toxicity stage is a
# word-boundary blocklist alternation; the terms here are SYNTHETIC
# placeholders — a real deployment swaps in its moderation list, the
# mechanism (ordered JVM-native regexp_replace, byte-deterministic vs
# the serial labeler) is what's under test.
TOX_TERMS = ("crudword", "vulgword", "slurx")


def _ci(term: str) -> str:
    """ASCII case-insensitive pattern by construction: [cC][rR]... —
    identical semantics in Java and Python, no (?i). Robust to real
    moderation lists: mixed-case input normalizes ([sS] from either 'S'
    or 's'), non-ASCII or case-unstable letters (ß→SS) and regex
    metacharacters are escaped literally instead of corrupting the
    class."""
    import re as _re

    out = []
    for c in term:
        lo, up = c.lower(), c.upper()
        if c.isalpha() and c.isascii() and len(lo) == 1 and len(up) == 1:
            out.append(f"[{lo}{up}]")
        else:
            out.append(_re.escape(c))
    return "".join(out)


# PII rules are structural patterns (not term lists); the toxicity stage
# appends as a word-boundary alternation built from whatever term list is
# injected. build_scrub_chain() keeps the ORDER invariant: PII first,
# toxicity last — the byte-identity property tests run parameterized over
# injected lists (tests/test_property_parity.py).
PII_RULES = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b0\d{4}[ ]?\d{3}[ ]?\d{3}\b", "<PHONE>"),
    (r"\b[A-Z]{1,2}[0-9][A-Z0-9]? ?[0-9][A-Z]{2}\b", "<POSTCODE>"),
    (r"\b\d{10}\b", "<ID>"),
)


def build_scrub_chain(
    tox_terms: tuple[str, ...] = TOX_TERMS,
    pii_rules: tuple[tuple[str, str], ...] = PII_RULES,
) -> tuple[tuple[str, str], ...]:
    """Ordered (pattern, replacement) chain from injectable rule/term
    lists. Toxicity terms go through `_ci` (explicit-class case folding,
    metacharacters escaped) so any real moderation list — mixed case,
    regex metachars, non-ASCII — compiles to the SAME semantics in Java
    and Python regex. An empty term list simply omits the stage."""
    chain = tuple(pii_rules)
    if tox_terms:
        chain += (
            (r"\b(?:" + "|".join(_ci(t) for t in tox_terms) + r")\b", "<TOX>"),
        )
    return chain


def load_tox_terms(path: str) -> tuple[str, ...]:
    """Load a moderation term list: one term per line, blank lines and
    '#' comment lines skipped, surrounding whitespace stripped. The file
    format every real blocklist ships in."""
    terms = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            t = line.strip()
            if t and not t.startswith("#"):
                terms.append(t)
    return tuple(terms)


SCRUB_CHAIN = build_scrub_chain()

# --- tokenization -------------------------------------------------------------

def tokenize_py(text: str) -> list[str]:
    """Single-space split, empties removed — matches Spark
    filter(split(text, ' '), t -> t != '')."""
    return [t for t in text.split(" ") if t != ""]
