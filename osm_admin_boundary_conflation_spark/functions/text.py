"""Deterministic text kernels (G20 + training-data text analysis).

``extract_text`` is the engine's html→text operator. The north rule's
per-row invariant is *byte-identical extracted text per url*: the
function is a pure bytes→str transform (no locale, no randomness, no
dict-order dependence), so two runs — at any parallelism — produce
identical bytes. Verified by tests/test_text.py.

Everything here is written to be called once per Arrow batch from a
pandas UDF (Series in → Series out), never per Spark row.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

_TAG_RE = re.compile(rb"<[^>]*>")
_GEO_RE = re.compile(r"lat (-?\d+\.\d{4}) lon (-?\d+\.\d{4})")

# tiny deterministic stopword lists for the n-gram language heuristic
_LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " a "),
    "sr": (" i ", " je ", " u ", " na "),
    "de": (" der ", " und ", " die ", " das "),
}


def extract_text(html: pd.Series) -> pd.Series:
    """binary html → text. Pure, deterministic, vectorized per batch."""

    def one(b) -> str:
        if b is None:
            return ""
        raw = bytes(b)
        stripped = _TAG_RE.sub(b" ", raw)
        # split() breaks on the str.isspace() code points, the same set
        # re's ``\s`` matches (pinned by tests/test_text.py)
        return " ".join(stripped.decode("utf-8", errors="replace").split())

    return html.map(one)


def extract_geo(text: pd.Series) -> pd.DataFrame:
    """text → (lat, lon) doubles (NaN when absent). The synthetic corpus
    embeds coordinates as ``lat D.DDDD lon D.DDDD`` (FIXTURES.md F1)."""
    lats = np.full(len(text), np.nan)
    lons = np.full(len(text), np.nan)
    for i, t in enumerate(text):
        if t is None:
            continue
        m = _GEO_RE.search(t)
        if m:
            lats[i] = float(m.group(1))
            lons[i] = float(m.group(2))
    return pd.DataFrame({"lat": lats, "lon": lons})


def lang_id(text: pd.Series) -> pd.Series:
    """n-gram/stopword-marker language heuristic → 'en'|'sr'|'de'|'und'."""

    def one(t: str) -> str:
        if not t:
            return "und"
        padded = " " + t.lower() + " "
        best_lang, best_score = "und", 0
        for lang, markers in _LANG_MARKERS.items():
            score = sum(padded.count(m) for m in markers)
            if score > best_score:
                best_lang, best_score = lang, score
        return best_lang

    return text.map(one)


_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:'[a-z]+)?|[^\sA-Za-z0-9]")


def token_count(text: pd.Series) -> pd.Series:
    """BPE-ish token count: alnum runs (with apostrophe suffix) plus
    individual punctuation marks."""
    return text.map(lambda t: len(_TOKEN_RE.findall(t)) if t else 0)


def shingles(text: str, k: int = 5) -> list[str]:
    """Word k-shingles for MinHash / Jaccard dedup."""
    words = (text or "").lower().split()
    if len(words) < k:
        return [" ".join(words)] if words else []
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def stable_hash64(s: str, seed: int = 0) -> int:
    """Portable deterministic 63-bit hash (md5-based — identical in any
    runtime, unlike Spark murmur3 vs DuckDB's hash)."""
    h = hashlib.md5(f"{seed}:{s}".encode()).hexdigest()
    return int(h[:15], 16)


def minhash_signature(text: str, num_hashes: int = 16, k: int = 5) -> list[int]:
    sh = shingles(text, k)
    if not sh:
        return [0] * num_hashes
    base = [stable_hash64(s) for s in sh]
    sig = []
    # affine rehash family over one md5 base hash — deterministic & cheap
    M = (1 << 61) - 1
    for i in range(num_hashes):
        a, b = 2 * i + 1, i * 0x9E3779B9
        sig.append(min(((h * a + b) % M) for h in base))
    return sig


def simhash64(text: str) -> int:
    """63-bit SimHash over whitespace tokens with md5 token hashes
    (63 bits so the value always fits a signed Spark LongType)."""
    tokens = (text or "").lower().split()
    if not tokens:
        return 0
    hs = np.array([stable_hash64(tok) for tok in tokens], dtype=np.int64)
    bits = (hs[:, None] >> np.arange(60)) & 1  # (T,60)
    acc = bits.sum(axis=0) * 2 - len(tokens)
    out = 0
    for bit in range(60):
        if acc[bit] > 0:
            out |= 1 << bit
    return out


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
