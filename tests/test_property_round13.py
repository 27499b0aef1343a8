"""Round-13 property-based tests (hypothesis).

The WER operator's load-bearing claim is algebraic: mapping each
pair's distinct words to single characters leaves edit distance
INVARIANT (any per-row bijection works, so Spark and DuckDB may order
their alphabets differently and still agree).  Example tests pin a
handful of cases; these properties pin the claim itself across random
word sequences and random alphabet orderings, plus the metric axioms
the operator's outputs must satisfy.
"""

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_evalmetrics import _ref_word_levenshtein


def _char_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i]
        for j, y in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y)))
        prev = cur
    return prev[-1]


_WORDS = st.lists(
    st.sampled_from([f"w{i}" for i in range(40)]), min_size=0, max_size=25
)


@settings(max_examples=80, deadline=None)
@given(cand=_WORDS, ref=_WORDS, perm_seed=st.integers(0, 2**31 - 1))
def test_word_to_char_encoding_preserves_edit_distance(cand, ref, perm_seed):
    """The operator's trick, proved independent of any engine: encode
    each distinct word as one character under a RANDOM bijection and
    take character-level Levenshtein — equals word-level Levenshtein
    exactly, whatever the alphabet ordering."""
    import random

    words = list(dict.fromkeys(cand + ref))  # first-occurrence order
    random.Random(perm_seed).shuffle(words)  # any bijection must work
    pos = {w: chr(1 + i) for i, w in enumerate(words)}
    enc_c = "".join(pos[w] for w in cand)
    enc_r = "".join(pos[w] for w in ref)
    want = _ref_word_levenshtein(" ".join(cand), " ".join(ref))
    assert _char_levenshtein(enc_c, enc_r) == want


@settings(max_examples=80, deadline=None)
@given(a=_WORDS, b=_WORDS, c=_WORDS)
def test_word_edit_distance_metric_axioms(a, b, c):
    """Identity, symmetry, triangle inequality, and the length bounds
    |len(a)-len(b)| <= d <= max(len) — the sanity envelope every WER
    numerator must live in."""
    d = lambda x, y: _ref_word_levenshtein(" ".join(x), " ".join(y))
    assert d(a, a) == 0
    dab = d(a, b)
    assert dab == d(b, a)
    assert abs(len(a) - len(b)) <= dab <= max(len(a), len(b), 0)
    assert d(a, c) <= dab + d(b, c)


@settings(max_examples=40, deadline=None)
@given(
    turns=st.lists(
        st.tuples(
            st.sampled_from(["system", "user", "assistant"]),
            st.text(
                alphabet="abc xyz",
                min_size=0,
                max_size=20,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_sft_span_arithmetic_invariants(turns):
    """The span fold's invariants, replayed driver-side with the real
    tokenizer: spans are disjoint, ordered, end-exclusive within
    [0, n_tokens], cover exactly the assistant body segments, and
    n_loss_tokens equals their total width."""
    from lightfusion_spark.operators.tokenize import (
        BPETokenizer,
        DEFAULT_MERGES_PATH,
        parse_merges,
    )

    with open(DEFAULT_MERGES_PATH, "r", encoding="utf-8") as fh:
        tok = BPETokenizer(parse_merges(fh.read()))
    off, spans, n_loss = 0, [], 0
    for role, content in turns:
        h = len(tok.encode(f"<|{role}|>\n"))
        b = len(tok.encode(content + "\n"))
        off += h
        if role == "assistant" and b > 0:
            spans.append((off, off + b))
            n_loss += b
        off += b
    assert all(s < e for s, e in spans)
    assert all(e1 <= s2 for (_, e1), (s2, _) in zip(spans, spans[1:]))
    assert all(0 <= s and e <= off for s, e in spans)
    assert sum(e - s for s, e in spans) == n_loss <= off


def _lcs_dp(a, b):
    """Classic O(nm) LCS DP — the third, independent implementation of
    the recurrence (Spark runs Hyyro's bit-parallel form over Python
    bigints; the DuckDB oracle replays it over HUGEINT masks)."""
    m, n = len(a), len(b)
    dp = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    return dp[m][n]


def _lcs_bitparallel(cand, ref):
    """The shipped LCS: evalmetrics' Hyyro scan over the reference's
    mask table, exactly as the cell fold calls it."""
    from lightfusion_spark.operators.evalmetrics import _lcs_len, _lcs_masks

    return _lcs_len(cand, _lcs_masks(ref), len(ref))


def _project(text, chars=False):
    """The JVM projection of one text, driver-side: lowercased
    whitespace tokens (``_tok``), or the lowercased whitespace-free
    string for chrF; NULL is empty."""
    import re

    text = (text or "").lower()
    return re.sub(r"\s+", "", text) if chars else text.split()


def _ref_pair_cells(cands, ref, orders, chars=False, lcs=False):
    """Shared-nothing reference for one pair's cells: per order, then
    the LCS when ``lcs``, ``[matched, cand_total]`` per side and the
    ``ref_total`` — Counter multiset intersection and the textbook DP,
    no code shared with the fold."""
    def grams(s, n):
        return Counter(
            s[i : i + n] if chars else tuple(s[i : i + n])
            for i in range(len(s) - n + 1)
        )

    cells = []
    for n in orders:
        rg = grams(ref, n)
        cell = []
        for c in cands:
            cg = grams(c, n)
            cell += [sum((cg & rg).values()), sum(cg.values())]
        cells.append(cell + [sum(rg.values())])
    if lcs:
        cell = []
        for c in cands:
            cell += [_lcs_dp(c, ref), len(c)]
        cells.append(cell + [len(ref)])
    return cells


def _ref_corpus_cells(rows, orders, chars=False, lcs=False):
    """``{key: cells}`` summed over ``(key, cands, ref)`` rows of
    projected texts (None is empty)."""
    empty = "" if chars else []
    out = {}
    for key, cands, ref in rows:
        cells = _ref_pair_cells(
            [empty if c is None else c for c in cands],
            empty if ref is None else ref,
            orders,
            chars,
            lcs,
        )
        acc = out.setdefault(key, [[0] * len(c) for c in cells])
        for a, c in zip(acc, cells):
            a[:] = [x + y for x, y in zip(a, c)]
    return out


@settings(max_examples=200, deadline=None)
@given(cand=_WORDS, ref=_WORDS)
def test_bitparallel_lcs_equals_classic_dp(cand, ref):
    """Hyyro's bit-parallel LCS == the textbook DP on random token
    sequences — the correctness claim under evalmetrics.lcs_cells and
    the pipe_eval_rouge oracle's recursive CTE."""
    assert _lcs_bitparallel(cand, ref) == _lcs_dp(cand, ref)


@settings(max_examples=80, deadline=None)
@given(cand=_WORDS, ref=_WORDS)
def test_lcs_axioms(cand, ref):
    """LCS axioms: symmetry, identity, subsequence bound, and the
    indel identity len(a)+len(b)-2*LCS == substitution-free edit
    distance (which is why ROUGE-L and WER price different things)."""
    lab = _lcs_bitparallel(cand, ref)
    assert lab == _lcs_bitparallel(ref, cand)
    assert _lcs_bitparallel(cand, cand) == len(cand)
    assert 0 <= lab <= min(len(cand), len(ref))
    # monotone under concatenation
    assert _lcs_bitparallel(cand + ref, ref) >= lab


_FOLD_TOKS = st.lists(st.sampled_from(["a", "b", "c"]), max_size=8)
_FOLD_CHARS = st.text(alphabet="abc", max_size=8)


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_clip_fold_matches_driver_reference(data):
    """The shipped cell fold (evalmetrics._clip_fold), driven directly
    with pandas batches and no JVM, equals the driver-side reference for
    one and two sides, tokens and characters, with and without the LCS
    cell, grouped (NULL group included) and ungrouped, with the rows
    split across batches.  Bound the way _clip_cells binds it, the fold
    pickles by reference: the payload names the module and carries no
    code object, so a Python worker imports the package to run it."""
    import functools
    import pickletools

    import numpy as np
    import pandas as pd
    from pyspark import cloudpickle

    from lightfusion_spark.operators import evalmetrics as em

    sides = data.draw(st.sampled_from([1, 2]), "sides")
    chars = data.draw(st.booleans(), "chars")
    lcs = data.draw(st.booleans(), "lcs")
    grouped = data.draw(st.booleans(), "grouped")
    orders = tuple(range(1, data.draw(st.integers(0 if lcs else 1, 4)) + 1))
    text = st.one_of(st.none(), _FOLD_CHARS if chars else _FOLD_TOKS)
    rows = data.draw(
        st.lists(
            st.tuples(
                st.sampled_from(["g1", "g2", None]) if grouped else st.just(0),
                st.lists(text, min_size=sides, max_size=sides),
                text,
            ),
            max_size=12,
        ),
        "rows",
    )
    cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)), max_size=2)))

    n_cells = len(orders) + lcs
    sums = [
        f"{c}{s}"
        for s in (("",) if sides == 1 else ("_a", "_b"))
        for c in ("matched", "cand_total")
    ] + ["ref_total"]
    names = (["_grp"] if grouped else []) + ["cell"] + sums
    fold = functools.partial(
        em._clip_fold,
        orders=orders,
        lcs=lcs,
        grouped=grouped,
        labels=tuple(range(n_cells)),
        names=names,
    )

    def column(texts):
        if chars:
            return list(texts)
        # Arrow hands the fold token arrays as object ndarrays
        return [None if t is None else np.array(t, dtype=object) for t in texts]

    batches = []
    for lo, hi in zip([0] + cuts, cuts + [len(rows)]):
        part = rows[lo:hi]
        cols = {"_grp": [k for k, _, _ in part]} if grouped else {}
        for i, side in enumerate(("ca", "cb")[:sides]):
            cols[side] = column(c[i] for _, c, _ in part)
        cols["rf"] = column(r for _, _, r in part)
        batches.append(pd.DataFrame(cols))
    (out,) = list(fold(iter(batches)))
    assert list(out.columns) == names
    key = (lambda r: r["_grp"]) if grouped else (lambda r: 0)
    got = {
        (key(r), r["cell"]): tuple(int(r[c]) for c in sums)
        for r in out.to_dict("records")
    }
    want = {
        (k, j): tuple(cell)
        for k, cells in _ref_corpus_cells(rows, orders, chars, lcs).items()
        for j, cell in enumerate(cells)
    }
    assert got == want

    blob = cloudpickle.dumps(fold)
    strings = {a for _, a, _ in pickletools.genops(blob) if isinstance(a, str)}
    assert "lightfusion_spark.operators.evalmetrics" in strings
    assert not strings & {"CodeType", "_make_function", "_function_setstate"}


def test_poisson1_ppm_thresholds_are_correct():
    """The bootstrap's hardcoded integer thresholds equal
    floor(CDF_Poisson(1)(k) * 1e6) recomputed from first principles,
    are strictly increasing, and the implied pmf has mean 1 to within
    the 1e-6 quantization (the resample must be unbiased)."""
    import math

    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    cdf = 0.0
    for k, t in enumerate(POISSON1_CDF_PPM):
        cdf += math.exp(-1) / math.factorial(k)
        assert t == math.floor(cdf * 1_000_000), k
    assert list(POISSON1_CDF_PPM) == sorted(set(POISSON1_CDF_PPM))
    # implied weight distribution over the exact integer uniform grid
    prev = 0
    mean = 0.0
    for k, t in enumerate(POISSON1_CDF_PPM):
        mean += k * (t - prev) / 1_000_000
        prev = t
    mean += len(POISSON1_CDF_PPM) * (1_000_000 - prev) / 1_000_000
    assert abs(mean - 1.0) < 1e-4
