"""From-scratch fuzzy string scoring (rapidfuzz is not available here).

Reimplements the scoring surface the reference uses from rapidfuzz
(validation/anchors.py:54 `fuzz.partial_token_sort_ratio(...) >= threshold`):
sort the tokens of both strings, then decide whether some same-length window
of the longer matches the shorter with similarity >= threshold on a 0-100
scale. Pure deterministic Python — shared by the golden oracle (per document)
and the Spark pandas UDF (per Arrow batch).
"""

from __future__ import annotations

from difflib import SequenceMatcher


def _token_sort(s: str) -> str:
    return " ".join(sorted(s.split()))


_ANCHOR_HIST_CACHE: dict[str, tuple] = {}


def _anchor_hist(short: str):
    """(chars, counts) histogram of a needle string — needles are config
    constants, so cache per process rather than np.unique-ing per call."""
    import numpy as np

    h = _ANCHOR_HIST_CACHE.get(short)
    if h is None:
        sarr = np.frombuffer(short.encode("utf-32-le"), dtype=np.uint32)
        h = np.unique(sarr, return_counts=True)
        _ANCHOR_HIST_CACHE[short] = h
    return h


class WindowGate:
    """Sliding-window fuzzy containment of many short needles in ONE text.

    Vectorized pruning: difflib's ``quick_ratio`` upper bound
    (2*sum_c min(count_short[c], count_win[c]) / 2n) is computed for ALL
    window offsets at once via sliding character histograms (prefix sums
    per distinct char of the needle — chars outside it contribute 0 to the
    min). Only offsets clearing the bound run the exact (quadratic) ratio;
    the bound >= ratio, so no qualifying window is ever skipped.

    The per-char prefix sums over the text are cached on the instance:
    anchors share most of their alphabet, so one document probed with ~11
    anchors computes each char's O(len) cumsum once, not once per anchor."""

    def __init__(self, long: str):
        import numpy as np

        self.long = long
        self.arr = np.frombuffer(long.encode("utf-32-le"), dtype=np.uint32)
        self._cum: dict[int, object] = {}

    def _char_cum(self, c):
        import numpy as np

        cum = self._cum.get(int(c))
        if cum is None:
            cum = np.concatenate(([0], np.cumsum(self.arr == c)))
            self._cum[int(c)] = cum
        return cum

    def at_least(self, short: str, threshold: float) -> bool:
        """True iff some same-length window of the text matches ``short``
        with SequenceMatcher ratio*100 >= threshold. ``short`` must be no
        longer than the text (callers swap; see partial_ratio_at_least)."""
        import numpy as np

        long = self.long
        n = len(short)
        chars, s_counts = _anchor_hist(short)
        n_windows = len(long) - n + 1
        overlap = np.zeros(n_windows, dtype=np.int64)
        for c, sc in zip(chars, s_counts):
            cum = self._char_cum(c)
            win = cum[n:] - cum[:-n]
            overlap += np.minimum(win, sc)
        bound = overlap * (100.0 / n)  # == quick_ratio * 100 for equal lengths
        candidates = np.nonzero(bound >= threshold)[0]
        if len(candidates) == 0:
            return False
        sm = SequenceMatcher(a=short, autojunk=False)
        # best-bound-first: the likeliest window exits the loop immediately
        for start in candidates[np.argsort(-bound[candidates], kind="stable")]:
            sm.set_seq2(long[int(start) : int(start) + n])
            if sm.ratio() * 100.0 >= threshold:
                return True
        return False


def partial_ratio_at_least(short: str, long: str, threshold: float) -> bool:
    """True iff some same-length window of ``long`` (every offset) matches
    ``short`` with SequenceMatcher ratio*100 >= threshold (see WindowGate)."""
    if not short or not long:
        return 0.0 >= threshold
    if len(short) > len(long):
        short, long = long, short
    return WindowGate(long).at_least(short, threshold)


def token_sort_gate(anchor: str, token_sorted_text: str, threshold: float) -> bool:
    """rapidfuzz's ``partial_token_sort_ratio(anchor, text) >= threshold``
    given the text's token-sorted form precomputed once per document (the
    sort is the other per-anchor cost worth hoisting)."""
    return partial_ratio_at_least(_token_sort(anchor.lower()), token_sorted_text, threshold)


def token_sort_gate_shared(
    sorted_anchor: str, gate: "WindowGate", threshold: float
) -> bool:
    """token_sort_gate with both per-document costs hoisted: the anchor is
    pre-token-sorted (a config constant) and the text's WindowGate carries
    the cached per-char prefix sums. Bit-identical to token_sort_gate."""
    short, long = sorted_anchor, gate.long
    if not short or not long:
        return 0.0 >= threshold
    if len(short) > len(long):
        # Rare tiny-document case: windows slide over the anchor instead,
        # so the text-side cache does not apply — use the generic path.
        return partial_ratio_at_least(short, long, threshold)
    return gate.at_least(short, threshold)
