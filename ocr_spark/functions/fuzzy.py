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
        longer than the text (callers swap; see anchor_gate)."""
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
        # quick_ratio * 100 for equal lengths, in ratio()'s own float steps,
        # so rounding never puts the bound below a window's ratio.
        bound = 2.0 * overlap / (2 * n) * 100.0
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


def anchor_gate(sorted_anchor: str, gate: WindowGate, threshold: float) -> bool:
    """rapidfuzz's ``partial_token_sort_ratio(anchor, text) >= threshold``:
    some same-length window (every offset) of the longer of the two
    token-sorted strings matches the shorter with SequenceMatcher
    ratio*100 >= threshold. ``sorted_anchor`` is the lowercased anchor,
    token-sorted; ``gate`` is the WindowGate over the document's
    token-sorted text, built once per document and shared by its anchors."""
    short, long = sorted_anchor, gate.long
    if not short or not long:
        return 0.0 >= threshold
    if len(short) > len(long):
        # Rare tiny-document case: windows slide over the anchor instead,
        # so the text-side cache does not apply.
        return WindowGate(short).at_least(long, threshold)
    return gate.at_least(short, threshold)
