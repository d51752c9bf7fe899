"""Bit-identity of the batched caption featurizer vs the per-row
oracle twin.

`qfilter.batch_text.caption_features_frame` (the Spark UDF interior)
must produce EXACTLY the values of the scalar twin
(`oracle.features.ocr_features` + `textops`, used by `oracle/rows.py`)
— exact float equality, not allclose: the oracle parity gate hashes
values, so one ULP of drift is a red row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from oracle.features import ocr_features
from qfilter.batch_text import caption_features_frame
from qfilter.features import _HEUR_KEEP, _blocks_to_tuples
from qfilter.textops import _WORD_RE, default_bundle, text_heuristics, tokenize_words

EDGE_CAPTIONS = [
    "", None, "   ", "\t\n", "x", "one", "one two",
    "İstanbul İİİ STRASSE ß",           # lowercase expansions (İ -> i + dot)
    "ω Ω Σ ς", "Привет мир", "123 456 789", "!!! ??? ...",
    "badword1 call +1 555 123 4567 or a@b.co now",
    "a" * 500,
    " ".join(["tok%d" % i for i in range(300)]),   # > pairwise-sum block
]


def _per_row_frame(bundle, caps, blocks, ws, hs) -> pd.DataFrame:
    rows = []
    for cap, blk, w, h in zip(caps, blocks, ws, hs):
        c = cap or ""
        feats = ocr_features(bundle, c, _blocks_to_tuples(blk), int(w), int(h))
        lang, lang_conf = bundle.langid.predict(c)
        ppl = bundle.lm.perplexity(c)
        heur = text_heuristics(c)
        feats["lang"] = lang
        feats["lang_conf"] = float(lang_conf)
        feats["perplexity"] = float(ppl) if np.isfinite(ppl) else None
        for k in _HEUR_KEEP:
            feats[k] = heur[k]
        rows.append(feats)
    return pd.DataFrame(rows)


def _assert_frames_bit_identical(ref: pd.DataFrame, got: pd.DataFrame) -> None:
    assert list(ref.columns) == list(got.columns)
    for col in ref.columns:
        a, b = ref[col].to_numpy(), got[col].to_numpy()
        if col == "lang":
            assert (a == b).all(), col
        elif col == "perplexity":
            an, bn = pd.isna(a), pd.isna(b)
            assert (an == bn).all(), col
            assert (a[~an].astype(float) == b[~bn].astype(float)).all(), col
        else:
            assert (a.astype(float) == b.astype(float)).all(), (
                col,
                np.nonzero(a.astype(float) != b.astype(float))[0][:5],
            )


def _random_rows(seed: int, n: int):
    rng = np.random.default_rng(seed)
    vocab = list(default_bundle().lm.vocab)
    pieces = vocab + [
        "zzqx", "éclair", "Ωmega", "b@dw0rd", "...", "12345", "—", "ß", "İ",
        "a" * 60, "", " ",
    ]
    caps, blocks = [], []
    for _ in range(n):
        k = int(rng.integers(0, 40))
        caps.append(" ".join(rng.choice(pieces) for _ in range(k)))
        if rng.random() < 0.5:
            blocks.append(None)
        else:
            nb = int(rng.integers(1, 8))
            blocks.append(
                [
                    {
                        "top": float(rng.uniform(0, 90)),
                        "left": float(rng.uniform(0, 90)),
                        "width": float(rng.uniform(1, 50)),
                        "height": float(rng.uniform(1, 20)),
                    }
                    for _ in range(nb)
                ]
            )
    ws = rng.integers(50, 300, size=n)
    hs = rng.integers(50, 300, size=n)
    return caps, blocks, ws, hs


@pytest.mark.parametrize("seed", [0, 1])
def test_batch_matches_per_row_random(seed):
    bundle = default_bundle()
    caps, blocks, ws, hs = _random_rows(seed, 200)
    caps = EDGE_CAPTIONS + caps
    blocks = [None] * len(EDGE_CAPTIONS) + blocks
    ws = np.concatenate([np.full(len(EDGE_CAPTIONS), 100), ws])
    hs = np.concatenate([np.full(len(EDGE_CAPTIONS), 100), hs])
    ref = _per_row_frame(bundle, caps, blocks, ws, hs)
    got = caption_features_frame(
        bundle, caps, [_blocks_to_tuples(b) for b in blocks], ws, hs, _HEUR_KEEP
    )
    _assert_frames_bit_identical(ref, got)


def test_all_empty_batch_gives_null_perplexity():
    bundle = default_bundle()
    caps = ["", None, "   "]
    got = caption_features_frame(
        bundle, caps, [None] * 3, np.full(3, 10), np.full(3, 10), _HEUR_KEEP
    )
    assert got["perplexity"].isna().all()
    assert (got["words_count"] == 0).all()


def test_lower_preserves_token_boundaries_bmp():
    """batch_text tokenizes ``caption.lower()`` once; the scalar path
    lowers each token of ``tokenize_words(caption)``.  Equivalence
    needs str.lower to never create/destroy whitespace — verified here
    for every BMP code point (incl. multi-char expansions like İ)."""
    for cp in range(0x10000):
        c = chr(cp)
        s = f"a{c}b"
        t1 = tokenize_words(s.lower())
        t2 = [w.lower() for w in tokenize_words(s)]
        assert t1 == t2, hex(cp)


def test_word_re_is_nonempty_tokens_only():
    # the per-unique-word cache assumes tokens are never empty strings
    assert _WORD_RE.findall("  a  bb  ") == ["a", "bb"]
    assert _WORD_RE.findall("") == []


def test_scrub_series_matches_scalar_scrub():
    """scrub_series (batched Series.str hot path) must be bit-identical
    to ScrubBundle.scrub (the per-row oracle twin) on edge captions and
    random text, including null handling (None -> "" with zero hits)."""
    scrub = default_bundle().scrub
    caps = EDGE_CAPTIONS + [
        "mail me at first.last+x@sub.domain.org and 4111 1111 1111 1111",
        "ssn 123-45-6789 ip 10.0.0.1 badword1 BADWORD1 BadWord1",
        "<PII> already here +123456789012 slurword.",
        "no hits at all, perfectly clean text",
    ]
    out, n_pii, n_tox = scrub.scrub_series(caps)
    for i, cap in enumerate(caps):
        s_ref, pii_ref, tox_ref = scrub.scrub(cap or "")
        assert out.iloc[i] == s_ref, repr(cap)
        assert int(n_pii.iloc[i]) == pii_ref, repr(cap)
        assert int(n_tox.iloc[i]) == tox_ref, repr(cap)
