"""Fingerprints: cryptographic hashes (JVM built-ins) + a deterministic
ssdeep-like fuzzy hash (the one genuinely-custom kernel, as an Arrow
pandas_udf).

Reference: md5/sha1/sha256/sha512/ssdeep at
src/modules/attachments/utils.py:44-86. Exact ssdeep parity needs
libfuzzy; we implement a deterministic content-defined-chunking shingle
signature with the same *role* (near-duplicate detection) — an
intentional, documented deviation (SURVEY.md §7 risk 4).

The signature is computed BATCH-vectorized: each Arrow batch's texts
are concatenated into one byte buffer per modulus tier and the rolling
hash / anchor scan / chunk hashing run as whole-buffer numpy ops. A
per-row Python implementation costs ~40µs/row (it throttled the
streaming enrich stage to ~130k rows/s/core); the batch form is ~10×
cheaper and is what a 10^12-turn scan needs from its one sanctioned
Python kernel.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
_B64_BYTES = np.frombuffer(_B64.encode("ascii"), dtype=np.uint8)
_POLY = np.uint32(1000003)
_MIX = np.uint32(0x9E3779B9)  # Fibonacci-hash mixer (32-bit)
_WINDOW = 7
_TARGET_CHUNKS = 48
_MAX_CHARS = 2 * _TARGET_CHUNKS
_WEIGHTS = _POLY ** np.arange(_WINDOW, dtype=np.uint32)  # wraps mod 2^32


def with_fingerprints(df: DataFrame, col: str = "text") -> DataFrame:
    """Add md5/sha1/sha256/sha512 columns — all JVM built-ins, zero Python."""
    c = F.coalesce(F.col(col), F.lit(""))
    return (
        df.withColumn("md5", F.md5(c))
        .withColumn("sha1", F.sha1(c))
        .withColumn("sha256", F.sha2(c, 256))
        .withColumn("sha512", F.sha2(c, 512))
    )


def _mod_for_length(n: int) -> int:
    """Adaptive anchor modulus so signatures stay ~TARGET_CHUNKS chars."""
    mod = 8
    while n // mod > _TARGET_CHUNKS and mod < (1 << 30):
        mod *= 2
    return mod


def shingle_signatures_batch(texts: pd.Series) -> pd.Series:
    """Vectorized fuzzy-hash over a whole pandas batch.

    Content-defined chunking: a 7-byte rolling polynomial hash anchors
    chunk boundaries wherever `roll % mod == mod-1` (mod adapted to the
    text's length); each anchor contributes one base64 char derived
    from the anchor window's hash FOLDED WITH the whole chunk's content
    (running sum of the chunk's window hashes), plus one tail char per
    text. Local edits perturb only the chunks they touch — unedited
    regions re-anchor identically AND any intra-chunk edit changes that
    chunk's char — which is the ssdeep near-dup contract.

    Texts sharing a modulus tier are concatenated into one buffer and
    scanned with whole-buffer numpy ops; windows straddling a text
    boundary are masked out, so results are independent of batch
    composition (same text → same signature in any batch).
    """
    raw = texts.fillna("").astype(str)
    encoded = [t.encode("utf-8") for t in raw]
    lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    out: list[str] = [""] * len(encoded)

    # tiny texts: no full window — one char from md5 (rare path, per-row)
    for i in np.nonzero((lens > 0) & (lens < _WINDOW))[0]:
        out[i] = _B64[hashlib.md5(encoded[i]).digest()[0] % 64]

    big = np.nonzero(lens >= _WINDOW)[0]
    if len(big) == 0:
        return pd.Series(out, index=texts.index, dtype="object")

    mods = np.array([_mod_for_length(int(lens[i])) for i in big], dtype=np.int64)
    for mod in np.unique(mods):
        tier = big[mods == mod]
        bufs = [encoded[i] for i in tier]
        tlens = lens[tier]
        ends = np.cumsum(tlens)
        data = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.uint32)

        # rolling hash of every 7-byte window in the tier buffer —
        # 7 contiguous multiply-adds (a strided-view matmul on integer
        # dtype falls back to numpy's generic inner loop, ~60x slower);
        # uint32 wrap-around is the design (halves memory traffic vs 64)
        L = len(data) - _WINDOW + 1
        roll = data[0:L] * _WEIGHTS[0]
        tmp = np.empty(L, dtype=np.uint32)
        for w in range(1, _WINDOW):
            np.multiply(data[w : w + L], _WEIGHTS[w], out=tmp)
            roll += tmp

        # anchors where the window hash hits the modulus mark (mod is a
        # power of two → bitwise AND); then drop anchors whose window
        # straddles a text boundary (valid iff p <= text_end - 7) —
        # filtering the sparse anchor list beats masking the full buffer
        anchors = np.nonzero((roll & np.uint32(mod - 1)) == np.uint32(mod - 1))[0]
        a_text = np.searchsorted(ends, anchors, side="right")
        keep = anchors <= ends[a_text] - _WINDOW
        anchors = anchors[keep]
        a_text = a_text[keep]

        # Each signature char folds in the WHOLE chunk's content — the
        # modular running sum of every window hash since the previous
        # anchor (or the text start) — not just the 7-byte anchor
        # window: an edit strictly inside a chunk perturbs the covered
        # window hashes and therefore the char, which is the ssdeep
        # chunk-content contract (an anchor-window-only char leaves
        # intra-chunk edits invisible). cumsum differences keep it one
        # vectorized pass; only in-text windows ever enter a diff
        # (chunk ranges never cross the straddle windows at text ends),
        # so signatures stay independent of batch composition.
        cs = np.zeros(L + 1, dtype=np.uint32)
        np.cumsum(roll, out=cs[1:])
        starts_w = ends - tlens  # per-text first window position
        counts = np.bincount(a_text, minlength=len(tier))
        prev = np.empty(len(anchors), dtype=np.int64)
        if len(anchors):
            prev[1:] = anchors[:-1] + 1
            prev[0] = 0
            first = np.empty(len(anchors), dtype=bool)
            first[0] = True
            first[1:] = a_text[1:] != a_text[:-1]
            prev[first] = starts_w[a_text[first]]
        chunk_sum = cs[anchors + 1] - cs[prev]
        a_chars = _B64_BYTES[
            (((roll[anchors] + chunk_sum) * _MIX) >> np.uint32(26)).astype(np.int64)
        ]
        # tail char per text: final full window + the tail chunk's
        # content (windows after the text's last anchor)
        tail_w = ends - _WINDOW
        tail_start = starts_w.astype(np.int64)
        has = counts > 0
        cc = np.cumsum(counts)
        tail_start[has] = anchors[cc[has] - 1] + 1
        t_sum = cs[tail_w + 1] - cs[tail_start]
        t_chars = _B64_BYTES[
            (((roll[tail_w] + t_sum) * _MIX) >> np.uint32(26)).astype(np.int64)
        ]

        splits = np.cumsum(counts)[:-1]
        for j, chunk in enumerate(np.split(a_chars, splits)):
            body = chunk[:_MAX_CHARS].tobytes().decode("ascii")
            out[tier[j]] = body + chr(t_chars[j])
    return pd.Series(out, index=texts.index, dtype="object")


def shingle_signature_py(text: str) -> str:
    """Single-text reference form (tests compare the udf against this);
    same code path as the batch kernel."""
    return shingle_signatures_batch(pd.Series([text]))[0]


@pandas_udf(StringType())
def shingle_signature_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched fuzzy-hash udf (the only Python in the enrich path)."""
    return shingle_signatures_batch(texts)


def shingle_similarity_py(a: str, b: str) -> float:
    """Jaccard over signature 2-grams in [0,1] — near-dup score."""
    if not a or not b:
        return 0.0
    ga = {a[i : i + 2] for i in range(max(1, len(a) - 1))}
    gb = {b[i : i + 2] for i in range(max(1, len(b) - 1))}
    inter = len(ga & gb)
    union = len(ga | gb)
    return inter / union if union else 0.0


def shingle_grams(c: Column) -> Column:
    """A signature's distinct 2-grams as an array column."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - 1, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(2))))


def gram_similarity(ga: Column, gb: Column) -> Column:
    """Jaccard of two shingle_grams arrays in [0,1]."""
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def shingle_similarity(a: Column, b: Column) -> Column:
    """Column form of signature similarity: Jaccard over 2-gram sets,
    computed JVM-side with higher-order functions (no Python)."""
    return gram_similarity(shingle_grams(a), shingle_grams(b))
