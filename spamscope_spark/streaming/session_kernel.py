"""Per-bucket sessionization kernel.

The pure-Python/pandas core of pipeline.stateful_sessionize: that
function is only `applyInPandasWithState` state plumbing and timers
around it, so the state machine is testable without Spark
(tests/test_streaming.py::TestSessionKernel).

Semantics (reference parity): per-conv_id session windows with a gap
timeout — the bounded version of the reference's wait-forever greedy
buffers (src/bolts/json_maker.py:82-88); a bounded seen-fingerprint set
(exact within-conversation dup count, the dedup-filter analog of
src/bolts/tokenizer.py:176-186); and a short deque of shingle
signatures for near-dup turn detection (the ssdeep role).

PERF contract: every pandas method call costs 100-600µs, so the
per-batch budget is ONE column extraction + lexsort per bucket-pdf,
then a plain-Python row loop. State is a dict
{conv_id: (counters, seen, sigs)} per BUCKET — per-group call overhead
at 10^6+ live conversations would otherwise dominate the stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

COUNTERS = 12  # numeric slots in the per-session state list
MAX_SEEN = 512  # bounded dedup state per session (LRU analog of the
MAX_SIGS = 8    # reference's maxlen deques, spamscope.example.yml:119-135)
NEARDUP_SIM = 0.8

ROLE_SLOT = {"user": 4, "assistant": 5, "tool": 6, "system": 7}


def sess_row(key: str, s: list) -> dict:
    """A closed session as a SESSION_OUT_SCHEMA row dict."""
    return {
        "conv_id": key,
        "session_seq": s[0],
        "session_id": f"{key}#{s[0]}",
        "session_start": pd.Timestamp(s[1], unit="us"),
        "session_end": pd.Timestamp(s[2], unit="us"),
        "n_turns": s[3],
        "n_user": s[4],
        "n_assistant": s[5],
        "n_tool": s[6],
        "n_system": s[7],
        "n_tool_calls": s[8],
        "max_phishing_score": int(s[9]),
        "n_duplicate_turns": s[10],
        "n_neardup_turns": s[11],
    }


def _grams(sig: str, cache: dict) -> frozenset:
    g = cache.get(sig)
    if g is None:
        g = frozenset(sig[i : i + 2] for i in range(max(1, len(sig) - 1)))
        cache[sig] = g
    return g


def apply_rows(states: dict, pdf: pd.DataFrame, gap_us: int) -> list[dict]:
    """Feed one bucket-batch of turns through the session state machine.
    Mutates `states` in place; returns the sessions closed by gap
    violations within the batch. `pdf` must be the FULL bucket batch
    (caller concats Arrow chunks — per-chunk sorting would mis-order
    turns across chunk boundaries)."""
    gram_cache: dict = {}
    closed: list[dict] = []
    conv = pdf["conv_id"].values
    ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
    order = np.lexsort((pdf["turn_idx"].values, ts_us, conv))
    conv_l = conv[order].tolist()
    ts_l = ts_us[order].tolist()
    roles = pdf["role"].values[order].tolist()
    tools = pdf["tool"].values[order].tolist()
    scores = pdf["phishing_score"].values[order].tolist()
    shas = pdf["sha1"].values[order].tolist()
    sig_l = pdf["shingle_sig"].values[order].tolist()

    cur = None
    s = seen = sigs = seen_set = None
    for j in range(len(ts_l)):
        cid = conv_l[j]
        if cid != cur:
            if cur is not None:
                states[cur] = (s, seen, sigs)
            cur = cid
            st = states.get(cid)
            if st is None:
                s, seen, sigs = None, [], []
            else:
                s, seen, sigs = st
            seen_set = set(seen)
        t = ts_l[j]
        if s is not None and t - s[2] > gap_us:
            closed.append(sess_row(cid, s))
            s = [s[0] + 1, t, t] + [0] * (COUNTERS - 3)
            seen, sigs, seen_set = [], [], set()
        elif s is None:
            s = [0, t, t] + [0] * (COUNTERS - 3)
        if t > s[2]:
            s[2] = t
        s[3] += 1
        slot = ROLE_SLOT.get(roles[j])
        if slot is not None:
            s[slot] += 1
        tool = tools[j]
        if tool is not None and tool == tool:  # not None / not NaN
            s[8] += 1
        score = scores[j]
        if score is not None and score == score and score > s[9]:
            s[9] = int(score)
        sha = shas[j]
        has_sha = isinstance(sha, str) and sha
        is_dup = has_sha and sha in seen_set
        if is_dup:
            s[10] += 1
        elif has_sha:
            seen.append(sha)
            seen_set.add(sha)
            if len(seen) > MAX_SEEN:
                seen_set.discard(seen[0])
                seen.pop(0)
        sig = sig_l[j]
        if isinstance(sig, str) and sig:
            if not is_dup and sigs:
                g = _grams(sig, gram_cache)
                for p in sigs:
                    gp = _grams(p, gram_cache)
                    u = len(g | gp)
                    if u and len(g & gp) / u >= NEARDUP_SIM:
                        s[11] += 1
                        break
            sigs.append(sig)
            if len(sigs) > MAX_SIGS:
                sigs.pop(0)
    if cur is not None:
        states[cur] = (s, seen, sigs)
    return closed


def close_expired(states: dict, wm_us: int, gap_us: int) -> tuple[list[dict], dict]:
    """Sessions whose gap elapsed before the watermark → closed rows;
    returns (closed, remaining_states)."""
    closed: list[dict] = []
    remaining: dict = {}
    for cid, (s, seen, sigs) in states.items():
        if s[2] + gap_us <= wm_us:
            closed.append(sess_row(cid, s))
        else:
            remaining[cid] = (s, seen, sigs)
    return closed, remaining


def min_end_us(states: dict) -> int:
    """Earliest open session end — the bucket's next timer anchor."""
    return min(st[0][2] for st in states.values())
