"""Batch-vectorized caption featurizer for the Arrow UDF hot path.

The reference's cascade consumes OCR-engine outputs (conf median/mean,
pct>=80, IQR, word count, bbox/line geometry) produced by one of three
interchangeable engines sharing a single contract (PaddleOCR
`classificator_paddleocr.py:190-241`, EasyOCR
`classificator_easyocr.py:208-254`, pytesseract `classificator.py:176-196`).
No OCR model runs here, and the north rule names fastText/KenLM/
heuristics — not OCR — so this module plugs a fourth engine into the
same contract (SURVEY.md §7.4):

* ``words``       = caption whitespace-token count (non-blank filter as
  `classificator_extended_paddleocr.py:249-254`).
* ``conf`` family = monotone map of per-token n-gram-LM log-probs into
  [0, 100]:  ``conf = 100 * sigmoid(W_WORD*word_lp + W_CHAR*char_lp +
  CONF_BIAS)``.
* bbox/line geometry = taken from an optional ``blocks`` sidecar column
  (array of (top, left, width, height) structs) that the fixture
  generator steers across the thresholds; absent blocks => zeros, same
  as the reference's empty-OCR result path
  (`classificator_extended_paddleocr.py:256-263`).

Token-level statistics mirror `classificator_extended_paddleocr.py:286-316`:
median/mean conf, pct80 = frac(conf >= 80), IQR = p75 - p25, line
heights/spacings variance (spacing from ``top``-sorted blocks, positive
only — the reference's W1 window op at `:300-308`).

This is the only caption-feature implementation in `qfilter/`.  The
per-row reference twin (`oracle/features.ocr_features` + `textops`)
scores one caption at a time, re-tokenizing it up to five times with
per-token dict lookups (`NgramLM.step_logprob`); it labels the oracle
rows (`oracle/rows.py`), and `tests/test_batch_text.py` asserts the two
are bit-identical.

Vectorization strategy (one Arrow batch = hundreds/thousands of rows):

1. tokenize each caption ONCE; flatten all tokens into one int64 id
   array with row offsets;
2. word -> (vocab id, best-language char-trigram logprob) computed per
   UNIQUE word with a process-level cache (captions share vocabulary
   heavily, so amortized cost per token approaches a dict hit);
3. the interpolated 3/2/1-gram LM logprob is evaluated for ALL tokens
   of the batch in one shot: bi/tri count dicts are flattened once per
   LM instance into sorted int64-key arrays and gathered with
   `np.searchsorted` (`_LMTables`);
4. token confidences, perplexities, and conf aggregates are sliced per
   row from the flat arrays — the per-row numpy calls (median,
   percentile) are kept deliberately so results stay bit-identical to
   the scalar twin (same summation orders).

Bit-identity notes: every elementwise formula is the same IEEE-754
double op as the scalar twin (numpy scalar math == 0-d ufunc), the
`n_ctx == 0` backoff branches become `np.where` on exact-zero counts,
and reductions (`mean`, `median`, `percentile`) run on the same
per-row value sequences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textops import NgramLM, TextBundle, text_heuristics, tokenize_words

__all__ = ["caption_features_frame", "batch_token_stats", "block_geometry"]

# conf = 100 * sigmoid(W_WORD*word_lp + W_CHAR*char_lp + CONF_BIAS):
# word_lp = interpolated 3-gram word-LM logprob, char_lp = best-language
# mean character-trigram logprob of the token (the langid profiles).
# Calibrated anchors on the default bundle: in-corpus phrase ~95,
# in-vocab word salad ~80, lightly-mangled word ~64, heavily-mangled
# ~32, gibberish ~10 — so every cascade conf threshold
# (25/50/55/65/70/90) and pct80 band is reachable by token mixing.
W_WORD = 0.08
W_CHAR = 1.2
CONF_BIAS = 11.38

# process-level word caches (vocabulary is tiny vs token volume)
_WORD_CACHE_MAX = 1_000_000


class _LMTables:
    """Sorted-array lookup tables derived once from an ``NgramLM``.

    Key encoding: ids shifted by +1 so BOS (-1) maps to 0;
    ``base = len(vocab) + 2`` covers ids 0..len(vocab)+1, so a trigram
    key fits int64 for any realistic vocab.
    """

    def __init__(self, lm: NgramLM):
        self.lm = lm
        self.base = np.int64(len(lm.vocab) + 2)
        b = int(self.base)

        def _sorted(keys_vals, width):
            if not keys_vals:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
            ks = np.empty(len(keys_vals), dtype=np.int64)
            vs = np.empty(len(keys_vals), dtype=np.float64)
            for n, (k, v) in enumerate(keys_vals.items()):
                if width == 1:
                    ks[n] = k + 1
                elif width == 2:
                    ks[n] = (k[0] + 1) * b + (k[1] + 1)
                else:
                    ks[n] = ((k[0] + 1) * b + (k[1] + 1)) * b + (k[2] + 1)
                vs[n] = v
            order = np.argsort(ks)
            return ks[order], vs[order]

        self.bi_k, self.bi_v = _sorted(lm.bi, 2)
        self.bi_ctx_k, self.bi_ctx_v = _sorted(lm.bi_ctx, 1)
        self.tri_k, self.tri_v = _sorted(lm.tri, 3)
        self.tri_ctx_k, self.tri_ctx_v = _sorted(lm.tri_ctx, 2)
        # unigram log-probs with the scalar path's out-of-range fallback
        self.uni = lm.uni
        self.uni_oov = float(np.log(lm.K / (lm.K * lm.V)))

    @staticmethod
    def _gather(sorted_keys: np.ndarray, vals: np.ndarray, q: np.ndarray) -> np.ndarray:
        """vals[key == q] else 0.0 — vectorized dict.get(q, 0.0)."""
        if sorted_keys.size == 0:
            return np.zeros(q.shape[0], dtype=np.float64)
        idx = np.searchsorted(sorted_keys, q)
        idx_c = np.minimum(idx, sorted_keys.size - 1)
        hit = sorted_keys[idx_c] == q
        return np.where(hit, vals[idx_c], 0.0)

    def token_logprobs_flat(
        self, wid: np.ndarray, prev1: np.ndarray, prev2: np.ndarray
    ) -> np.ndarray:
        """log P(w | prev2, prev1) for a flat token stream.

        Identical math to ``NgramLM.step_logprob`` (the oracle twin's path):
        add-k 3/2/1-gram with exact-zero-context backoff, interpolated
        0.6/0.3/0.1 in probability space.
        """
        lm = self.lm
        K, V, b = lm.K, lm.V, self.base
        if wid.size == 0:
            return np.empty(0, dtype=np.float64)
        in_range = wid < len(self.uni)
        lp_uni = np.where(in_range, self.uni[np.minimum(wid, len(self.uni) - 1)], self.uni_oov)
        k_bi = (prev1 + 1) * b + (wid + 1)
        c_bi = self._gather(self.bi_k, self.bi_v, k_bi)
        n_bi = self._gather(self.bi_ctx_k, self.bi_ctx_v, prev1 + 1)
        lp_bi = np.where(n_bi != 0.0, np.log((c_bi + K) / (n_bi + K * V)), lp_uni)
        k_tri = ((prev2 + 1) * b + (prev1 + 1)) * b + (wid + 1)
        c_tri = self._gather(self.tri_k, self.tri_v, k_tri)
        n_tri = self._gather(self.tri_ctx_k, self.tri_ctx_v, (prev2 + 1) * b + (prev1 + 1))
        lp_tri = np.where(n_tri != 0.0, np.log((c_tri + K) / (n_tri + K * V)), lp_bi)
        return np.log(0.6 * np.exp(lp_tri) + 0.3 * np.exp(lp_bi) + 0.1 * np.exp(lp_uni))


# one cached table set per LM object (bundles are process-cached, so in
# practice this holds a single entry; id() keying avoids hashing the LM)
_LM_TABLES: dict[int, _LMTables] = {}
_WORD_INFO: dict[int, dict[str, tuple[int, float]]] = {}


def _tables_for(lm: NgramLM) -> _LMTables:
    t = _LM_TABLES.get(id(lm))
    if t is None or t.lm is not lm:
        _LM_TABLES.clear()
        t = _LMTables(lm)
        _LM_TABLES[id(lm)] = t
    return t


def _word_info_cache(bundle: TextBundle) -> dict[str, tuple[int, float]]:
    c = _WORD_INFO.get(id(bundle.lm))
    if c is None:
        _WORD_INFO.clear()
        c = {}
        _WORD_INFO[id(bundle.lm)] = c
    return c


def batch_token_stats(bundle: TextBundle, captions: list[str]):
    """Flat per-token (word_lps, char_lps, confs) + row offsets.

    Returns ``(starts, word_lps, confs)`` where row r's tokens live at
    ``[starts[r], starts[r+1])`` in the flat arrays.
    """
    tables = _tables_for(bundle.lm)
    winfo = _word_info_cache(bundle)
    vocab_get = bundle.lm.vocab.get
    oov = len(bundle.lm.vocab)
    langid_scores = bundle.langid.scores

    tokens_per_row = [tokenize_words((c or "").lower()) for c in captions]
    lengths = np.fromiter((len(t) for t in tokens_per_row), dtype=np.int64,
                          count=len(tokens_per_row))
    starts = np.zeros(len(captions) + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    total = int(starts[-1])

    wid = np.empty(total, dtype=np.int64)
    char_lps = np.empty(total, dtype=np.float64)
    pos = 0
    for toks in tokens_per_row:
        for w in toks:
            info = winfo.get(w)
            if info is None:
                # scalar path: langid.scores(w).max() (w is never empty
                # out of the tokenizer); lowercase in = lowercase out of
                # LangIdModel._tri_ids, so caching on the lowered token
                # is exact
                info = (vocab_get(w, oov), float(langid_scores(w).max()))
                if len(winfo) < _WORD_CACHE_MAX:
                    winfo[w] = info
            wid[pos] = info[0]
            char_lps[pos] = info[1]
            pos += 1

    # previous-token contexts with BOS (-1) at each row start
    prev1 = np.empty(total, dtype=np.int64)
    prev2 = np.empty(total, dtype=np.int64)
    if total:
        prev1[1:] = wid[:-1]
        prev2[2:] = wid[:-2]
        row_starts = starts[:-1][lengths > 0]
        prev1[row_starts] = NgramLM.BOS
        prev2[row_starts] = NgramLM.BOS
        second = starts[:-1][lengths >= 2] + 1
        prev2[second] = NgramLM.BOS

    word_lps = tables.token_logprobs_flat(wid, prev1, prev2)
    z = W_WORD * word_lps + W_CHAR * char_lps + CONF_BIAS
    confs = 100.0 / (1.0 + np.exp(-z))
    return starts, word_lps, confs


def block_geometry(blocks, page_w: int, page_h: int) -> tuple:
    """Bbox/line geometry stats for one row's ``blocks`` sidecar.

    Returns (n_blocks, bbox_area_text_frac, line_height_med,
    line_height_var, line_spacing_med, line_spacing_var,
    avg_block_width, avg_block_height).  Shared by
    `caption_features_frame` and the per-row oracle twin
    (`oracle/features.ocr_features`) so geometry semantics cannot
    diverge.
    """
    blocks = list(blocks) if blocks is not None else []
    nb = len(blocks)
    if nb:
        arr = np.asarray(
            [[float(b[0]), float(b[1]), float(b[2]), float(b[3])] for b in blocks],
            dtype=np.float64,
        )  # columns: top, left, width, height
        tops, widths, heights = arr[:, 0], arr[:, 2], arr[:, 3]
        page_area = float(page_w) * float(page_h)
        bbox_frac = float((widths * heights).sum() / page_area) if page_area else 0.0
        lh_med = float(np.median(heights))
        lh_var = float(np.var(heights))
        order = np.argsort(tops, kind="stable")
        st, sh = tops[order], heights[order]
        spacings = st[1:] - (st[:-1] + sh[:-1])
        spacings = spacings[spacings > 0]
        ls_med = float(np.median(spacings)) if spacings.size else 0.0
        ls_var = float(np.var(spacings)) if spacings.size else 0.0
        avg_w = float(widths.mean())
        avg_h = float(heights.mean())
    else:
        bbox_frac = lh_med = lh_var = ls_med = ls_var = avg_w = avg_h = 0.0
    return nb, bbox_frac, lh_med, lh_var, ls_med, ls_var, avg_w, avg_h


# NOTE on tokenize_words(caption.lower()) vs [w.lower() for w in
# tokenize_words(caption)]: \S+ splits on whitespace only, and str.lower
# never introduces or removes whitespace for any Unicode character
# (verified over the full BMP in tests), so lowering before tokenizing
# yields the identical token sequence — one pass instead of two.


def _segment_median(sorted_flat: np.ndarray, seg_starts: np.ndarray,
                    seg_lens: np.ndarray) -> np.ndarray:
    """np.median of each sorted segment, bit-identical: odd length ->
    middle element; even -> (lower_mid + upper_mid) / 2 (same add/div
    order as numpy's ``mean(part[m-1:m+1])``)."""
    half = seg_lens // 2
    upper = sorted_flat[seg_starts + half]
    lower = sorted_flat[seg_starts + np.maximum(half - 1, 0)]
    even = (seg_lens % 2) == 0
    return np.where(even, (lower + upper) / 2.0, upper)


def _segment_quantile(sorted_flat: np.ndarray, seg_starts: np.ndarray,
                      seg_lens: np.ndarray, q: float) -> np.ndarray:
    """np.percentile(x, q*100, method='linear') of each sorted segment.

    Replicates numpy's ``_lerp`` exactly, including the ``t >= 0.5``
    branch that computes ``b - (b - a) * (1 - t)`` to stay monotone."""
    virt = (seg_lens - 1) * q
    lo = np.floor(virt).astype(np.int64)
    hi = np.ceil(virt).astype(np.int64)
    a = sorted_flat[seg_starts + lo]
    b = sorted_flat[seg_starts + hi]
    t = virt - lo
    diff = b - a
    res = a + diff * t
    m = t >= 0.5
    res[m] = b[m] - diff[m] * (1.0 - t[m])
    return res


def caption_features_frame(
    bundle: TextBundle,
    captions,
    blocks_list,
    widths,
    heights,
    heur_keep: list[str],
) -> pd.DataFrame:
    """One Arrow batch of caption features (column order = caller's
    schema: OCR-analogue stats, lang/lang_conf/perplexity, heuristics).

    ``blocks_list`` holds per-row block tuple lists (already normalized
    by the caller) or None.
    """
    caps = [c or "" for c in captions]
    n = len(caps)
    starts, word_lps, confs = batch_token_stats(bundle, caps)
    lengths = np.diff(starts)
    nz = lengths > 0

    # one global sort (rows are contiguous segments, so sorting the
    # (row, conf) pairs sorts every row's confs in place in the flat
    # array); per-row median/quantiles become index gathers
    row_of_token = np.repeat(np.arange(n, dtype=np.int64), lengths)
    sorted_confs = confs[np.lexsort((confs, row_of_token))]

    med = np.zeros(n)
    med[nz] = _segment_median(sorted_confs, starts[:-1][nz], lengths[nz])
    p75 = _segment_quantile(sorted_confs, starts[:-1][nz], lengths[nz], 0.75)
    p25 = _segment_quantile(sorted_confs, starts[:-1][nz], lengths[nz], 0.25)
    iqr = np.zeros(n)
    iqr[nz] = p75 - p25
    ge80 = np.zeros(n)
    if confs.size:
        ge80 = np.add.reduceat(
            (confs >= 80.0).astype(np.float64), starts[:-1].clip(max=confs.size - 1)
        ) * nz  # zero-length rows alias the next row's segment; mask them
    pct80 = np.divide(ge80, lengths, out=np.zeros(n), where=nz)
    wc = lengths

    # per-row means stay as ndarray.mean on slices: numpy's pairwise
    # summation order differs from reduceat, and bit-identity with the
    # scalar oracle path outranks the last ~0.03 ms/row
    mean = np.zeros(n)
    neg_mean_lp = np.full(n, np.inf)  # empty caption -> inf perplexity -> null
    for r in np.nonzero(nz)[0]:
        s, e = int(starts[r]), int(starts[r + 1])
        mean[r] = confs[s:e].mean()
        neg_mean_lp[r] = -word_lps[s:e].mean()
    ppl = np.exp(neg_mean_lp)

    geo = np.zeros((n, 8), dtype=np.float64)
    for r in range(n):
        geo[r] = block_geometry(blocks_list[r], int(widths[r]), int(heights[r]))

    langs = []
    lang_confs = np.zeros(n)
    for r, cap in enumerate(caps):
        lg, lc = bundle.langid.predict(cap)
        langs.append(lg)
        lang_confs[r] = lc

    heur_rows = [text_heuristics(cap) for cap in caps]

    out = {
        "median_ocr_conf": med,
        "mean_ocr_conf": mean,
        "pct80": pct80,
        "words_count": wc.astype(np.int32),
        "conf_iqr": iqr,
        "bbox_area_text_frac": geo[:, 1],
        "line_height_med": geo[:, 2],
        "line_height_var": geo[:, 3],
        "line_spacing_med": geo[:, 4],
        "line_spacing_var": geo[:, 5],
        "text_blocks_count": geo[:, 0].astype(np.int32),
        "avg_block_width": geo[:, 6],
        "avg_block_height": geo[:, 7],
        "lang": langs,
        "lang_conf": lang_confs,
        # float-or-None list (not a NaN array): matches the per-row
        # path's `float(ppl) if np.isfinite(ppl) else None` exactly,
        # including the all-empty-batch object-dtype -> null case
        "perplexity": [float(p) if np.isfinite(p) else None for p in ppl],
        "token_count": np.fromiter(
            (h["token_count"] for h in heur_rows), dtype=np.int32, count=n
        ),
        "char_count": np.fromiter(
            (h["char_count"] for h in heur_rows), dtype=np.int32, count=n
        ),
    }
    for k in heur_keep:
        if k in ("token_count", "char_count"):
            continue
        out[k] = np.fromiter((h[k] for h in heur_rows), dtype=np.float64, count=n)
    return pd.DataFrame(out)
