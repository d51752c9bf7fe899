"""Caption/text operators: tokenizer, heuristics, langid, LM, scrub.

From-scratch, dependency-free (numpy + stdlib) analogues of the
caption-path stack the north rule names:

* fastText-style language ID   -> character-trigram log-prob profiles
  trained on a built-in deterministic mini-corpus (seeded), serialized
  to ``.npz`` and broadcast to executors.
* KenLM-style perplexity       -> word-level order-3 LM with add-k
  smoothing over the same corpus.
* Gopher/C4-style heuristics   -> word count, mean word length, symbol
  ratio, repetition ratios, stopword fraction, etc.
* PII/toxicity scrub           -> one compiled alternation regex per
  class, replacement tokens ``<PII>`` / ``<TOX>``.

The reference's OCR-confidence features are re-derived from the LM in
`qfilter.batch_text` (SURVEY.md §7.4); the reference's token filter
(conf > 0, non-blank — `classificator_extended_paddleocr.py:249-254`)
maps to the tokenizer's non-blank rule here.

Everything is deterministic: corpus generation uses
``numpy.random.Generator(PCG64(seed))`` with fixed seeds; no wall-clock
or hash randomization enters any artifact.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

import numpy as np

__all__ = [
    "tokenize_words",
    "token_count_bpe_ish",
    "text_heuristics",
    "HEURISTIC_NAMES",
    "LangIdModel",
    "NgramLM",
    "ScrubBundle",
    "TextBundle",
    "build_corpus",
    "build_default_bundle",
    "save_bundle",
    "load_bundle",
    "default_bundle",
    "CORPUS_LANGS",
]

# --------------------------------------------------------------- tokenizer

_WORD_RE = re.compile(r"\S+", re.UNICODE)
# GPT-2-flavored pre-tokenizer approximation (stdlib `re` lacks \p{L}):
# letters (any script via \w minus digits/underscore), digit runs,
# punctuation runs, trailing spaces.
_BPE_RE = re.compile(r" ?[^\W\d_]+| ?\d{1,3}| ?[^\w\s]+|\s+$", re.UNICODE)


def tokenize_words(text: str) -> list[str]:
    """Whitespace tokens, blanks dropped (reference token filter)."""
    if not text:
        return []
    return _WORD_RE.findall(text)


def token_count_bpe_ish(text: str) -> int:
    """BPE-ish token count: letter runs / <=3-digit runs / punct runs."""
    if not text:
        return 0
    return len(_BPE_RE.findall(text))


# --------------------------------------------------------------- heuristics

_STOPWORDS = frozenset(
    """the a an and or of to in is are was were be it this that for on with
    as at by from not but und der die das ein eine ist und zu le la les de
    un une et est в и не на я он что с это как по для el los las y en que
    и по как мы вы они его ее их""".split()
)

HEURISTIC_NAMES = [
    "words_count",
    "token_count",
    "char_count",
    "mean_word_len",
    "max_word_len",
    "alpha_ratio",
    "digit_ratio",
    "symbol_ratio",
    "upper_ratio",
    "stopword_frac",
    "rep_2gram_frac",
    "rep_3gram_frac",
    "uniq_word_frac",
    "ends_with_punct",
]

_ALPHA_RE = re.compile(r"[^\W\d_]", re.UNICODE)
_DIGIT_RE = re.compile(r"\d", re.UNICODE)
_SYMBOL_RE = re.compile(r"[^\w\s]", re.UNICODE)
_UPPER_RE = re.compile(r"[A-ZА-ЯЁÄÖÜÉÈÀÂÇÑ]")


def _rep_ngram_frac(words: list[str], n: int) -> float:
    """Fraction of duplicate word n-grams (Gopher repetition signal)."""
    if len(words) < n:
        return 0.0
    grams = [tuple(words[i : i + n]) for i in range(len(words) - n + 1)]
    return 1.0 - len(set(grams)) / len(grams)


def text_heuristics(text: str) -> dict:
    """Gopher/C4-style quality counters for one string."""
    words = tokenize_words(text)
    n_chars = len(text)
    n_words = len(words)
    lens = [len(w) for w in words]
    lowered = [w.lower().strip(".,!?;:()[]\"'") for w in words]
    return {
        "words_count": n_words,
        "token_count": token_count_bpe_ish(text),
        "char_count": n_chars,
        "mean_word_len": float(sum(lens)) / n_words if n_words else 0.0,
        "max_word_len": max(lens) if lens else 0,
        "alpha_ratio": len(_ALPHA_RE.findall(text)) / n_chars if n_chars else 0.0,
        "digit_ratio": len(_DIGIT_RE.findall(text)) / n_chars if n_chars else 0.0,
        "symbol_ratio": len(_SYMBOL_RE.findall(text)) / n_chars if n_chars else 0.0,
        "upper_ratio": len(_UPPER_RE.findall(text)) / n_chars if n_chars else 0.0,
        "stopword_frac": (
            sum(1 for w in lowered if w in _STOPWORDS) / n_words if n_words else 0.0
        ),
        "rep_2gram_frac": _rep_ngram_frac(lowered, 2),
        "rep_3gram_frac": _rep_ngram_frac(lowered, 3),
        "uniq_word_frac": len(set(lowered)) / n_words if n_words else 0.0,
        "ends_with_punct": bool(text) and text.rstrip()[-1:] in ".!?",
    }


# ------------------------------------------------------------- mini-corpus

_WORDS = {
    "en": """the quick brown fox jumps over lazy dog a scanned document page
        contains clear printed text with good contrast and sharp letters
        quality filter keeps readable pages while dropping blurry dark or
        empty scans every caption describes one image in plain english
        words sentence paragraph line table figure number value report
        office letter invoice contract signature date total amount paid""",
    "ru": """быстрая коричневая лиса прыгает через ленивую собаку скан
        документа содержит чёткий печатный текст с хорошим контрастом
        фильтр качества оставляет читаемые страницы и отбрасывает размытые
        тёмные или пустые сканы каждая подпись описывает одно изображение
        простыми русскими словами предложение абзац строка таблица рисунок
        число значение отчёт письмо счёт договор подпись дата итог сумма""",
    "de": """der schnelle braune fuchs springt über den faulen hund ein
        gescanntes dokument enthält klaren gedruckten text mit gutem
        kontrast der qualitätsfilter behält lesbare seiten und verwirft
        unscharfe dunkle oder leere scans jede bildunterschrift beschreibt
        ein bild mit einfachen deutschen wörtern satz absatz zeile tabelle
        abbildung zahl wert bericht brief rechnung vertrag unterschrift""",
    "fr": """le rapide renard brun saute par dessus le chien paresseux un
        document numérisé contient un texte imprimé clair avec un bon
        contraste le filtre de qualité garde les pages lisibles et rejette
        les numérisations floues sombres ou vides chaque légende décrit une
        image avec des mots français simples phrase paragraphe ligne
        tableau figure nombre valeur rapport lettre facture contrat""",
    "es": """el rápido zorro marrón salta sobre el perro perezoso un
        documento escaneado contiene texto impreso claro con buen contraste
        el filtro de calidad conserva las páginas legibles y descarta los
        escaneos borrosos oscuros o vacíos cada leyenda describe una imagen
        con palabras españolas sencillas frase párrafo línea tabla figura
        número valor informe carta factura contrato firma fecha total""",
}

CORPUS_LANGS = ("en", "ru", "de", "fr", "es", "zxx")

_ZXX_CHARS = "#@$%&*+=~^<>|/\\{}[]()0123456789-_"

CORPUS_SEED = 42
CORPUS_SENTENCES = 400  # per language
CORPUS_MIN_LEN, CORPUS_MAX_LEN = 4, 14  # words per sentence, inclusive


def build_corpus() -> dict[str, list[str]]:
    """Deterministic synthetic sentences per language (langid/LM training)."""
    rng = np.random.default_rng(np.random.PCG64(CORPUS_SEED))
    corpus: dict[str, list[str]] = {}
    for lang in CORPUS_LANGS:
        sents = []
        if lang == "zxx":
            chars = np.array(list(_ZXX_CHARS))
            for _ in range(CORPUS_SENTENCES):
                n = int(rng.integers(CORPUS_MIN_LEN, CORPUS_MAX_LEN + 1))
                toks = [
                    "".join(rng.choice(chars, size=int(rng.integers(2, 8))))
                    for _ in range(n)
                ]
                sents.append(" ".join(toks))
        else:
            vocab = _WORDS[lang].split()
            # Zipfian word frequencies: early vocab words are common
            # (high bigram-context counts -> lower smoothed prob for
            # unseen continuations), late words are rare.  This gives
            # the LM a realistic frequency spread that the fixture
            # captions exploit to reach mid-band confidences.
            weights = 1.0 / (np.arange(len(vocab)) + 2.0)
            weights /= weights.sum()
            for _ in range(CORPUS_SENTENCES):
                n = int(rng.integers(CORPUS_MIN_LEN, CORPUS_MAX_LEN + 1))
                idx = rng.choice(len(vocab), size=n, p=weights)
                sents.append(" ".join(vocab[i] for i in idx))
        corpus[lang] = sents
    return corpus


# ----------------------------------------------------------------- langid

class LangIdModel:
    """Character-trigram log-prob profile classifier (fastText stand-in).

    Per language: add-one-smoothed trigram log-probabilities over a
    hashed trigram space.  Score(text, lang) = mean log P(tri | lang);
    predict = argmax.  Stored as dense (n_langs, buckets) float32 — a
    few hundred KB, broadcastable.
    """

    BUCKETS = 1 << 15

    def __init__(self, langs: list[str], logprob: np.ndarray):
        self.langs = list(langs)
        self.logprob = logprob  # (n_langs, BUCKETS) float32

    @staticmethod
    def _tri_ids(text: str) -> np.ndarray:
        s = f"\x02{text.lower()}\x03"
        if len(s) < 3:
            return np.empty(0, dtype=np.int64)
        b = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        ids = (
            b[:-2] * np.int64(1000003) + b[1:-1] * np.int64(8191) + b[2:]
        ) % LangIdModel.BUCKETS
        return ids

    @classmethod
    def train(cls, corpus: dict[str, list[str]]) -> "LangIdModel":
        langs = sorted(corpus)
        counts = np.ones((len(langs), cls.BUCKETS), dtype=np.float64)  # add-one
        for li, lang in enumerate(langs):
            for sent in corpus[lang]:
                ids = cls._tri_ids(sent)
                if ids.size:
                    np.add.at(counts[li], ids, 1.0)
        logprob = np.log(counts / counts.sum(axis=1, keepdims=True))
        return cls(langs, logprob.astype(np.float32))

    def scores(self, text: str) -> np.ndarray:
        ids = self._tri_ids(text)
        if ids.size == 0:
            return np.zeros(len(self.langs), dtype=np.float64)
        return self.logprob[:, ids].mean(axis=1).astype(np.float64)

    def predict(self, text: str) -> tuple[str, float]:
        """(lang, confidence) — confidence is the softmax margin."""
        if not text or not text.strip():
            return "und", 0.0
        sc = self.scores(text)
        order = np.argsort(sc)[::-1]
        best = int(order[0])
        # softmax over mean-logprob scores scaled by trigram count proxy
        e = np.exp((sc - sc[best]) * 8.0)
        conf = float(1.0 / e.sum())
        return self.langs[best], conf


# --------------------------------------------------------------- n-gram LM

class NgramLM:
    """Word-level order-3 LM, add-k smoothing (KenLM stand-in).

    Vocabulary + hashed context tables stored as numpy arrays.  Scores
    are deterministic; OOV words get the unigram floor.  Used both for
    caption perplexity and for the OCR-confidence analogue
    (`qfilter.batch_text`, SURVEY.md §7.4).
    """

    K = 0.1

    def __init__(
        self,
        vocab: dict[str, int],
        uni: np.ndarray,
        bi: dict[tuple[int, int], float],
        tri: dict[tuple[int, int, int], float],
        bi_ctx: dict[int, float],
        tri_ctx: dict[tuple[int, int], float],
    ):
        self.vocab = vocab
        self.uni = uni
        self.bi = bi
        self.tri = tri
        self.bi_ctx = bi_ctx
        self.tri_ctx = tri_ctx
        self.V = len(vocab) + 1  # +1 for OOV

    BOS = -1

    @classmethod
    def train(cls, sentences: list[str]) -> "NgramLM":
        vocab: dict[str, int] = {}
        uni_counts: dict[int, float] = {}
        bi: dict[tuple[int, int], float] = {}
        tri: dict[tuple[int, int, int], float] = {}
        bi_ctx: dict[int, float] = {}
        tri_ctx: dict[tuple[int, int], float] = {}
        total = 0.0
        for sent in sentences:
            ids = []
            for w in tokenize_words(sent.lower()):
                if w not in vocab:
                    vocab[w] = len(vocab)
                ids.append(vocab[w])
            prev2, prev1 = cls.BOS, cls.BOS
            for i in ids:
                uni_counts[i] = uni_counts.get(i, 0.0) + 1.0
                total += 1.0
                bi[(prev1, i)] = bi.get((prev1, i), 0.0) + 1.0
                bi_ctx[prev1] = bi_ctx.get(prev1, 0.0) + 1.0
                tri[(prev2, prev1, i)] = tri.get((prev2, prev1, i), 0.0) + 1.0
                tri_ctx[(prev2, prev1)] = tri_ctx.get((prev2, prev1), 0.0) + 1.0
                prev2, prev1 = prev1, i
        V = len(vocab) + 1
        uni = np.zeros(V, dtype=np.float64)
        for i, c in uni_counts.items():
            uni[i] = c
        uni = np.log((uni + cls.K) / (total + cls.K * V))
        return cls(vocab, uni, bi, tri, bi_ctx, tri_ctx)

    def _word_id(self, w: str) -> int:
        return self.vocab.get(w, len(self.vocab))  # last slot = OOV

    def step_logprob(self, prev2: int, prev1: int, w: str) -> tuple[float, int]:
        """log P(w | prev2, prev1) (interpolated 3/2/1-gram) + word id."""
        i = self._word_id(w)
        K, V = self.K, self.V
        lp_uni = self.uni[i] if i < len(self.uni) else np.log(K / (K * V))
        c_bi = self.bi.get((prev1, i), 0.0)
        n_bi = self.bi_ctx.get(prev1, 0.0)
        lp_bi = np.log((c_bi + K) / (n_bi + K * V)) if n_bi else lp_uni
        c_tri = self.tri.get((prev2, prev1, i), 0.0)
        n_tri = self.tri_ctx.get((prev2, prev1), 0.0)
        lp_tri = np.log((c_tri + K) / (n_tri + K * V)) if n_tri else lp_bi
        lp = float(
            np.log(0.6 * np.exp(lp_tri) + 0.3 * np.exp(lp_bi) + 0.1 * np.exp(lp_uni))
        )
        return lp, i

    def token_logprobs(self, text: str) -> np.ndarray:
        """Per-token log P(w | context), interpolated 3/2/1-gram."""
        words = [w.lower() for w in tokenize_words(text)]
        if not words:
            return np.empty(0, dtype=np.float64)
        out = np.empty(len(words), dtype=np.float64)
        prev2, prev1 = self.BOS, self.BOS
        for n, w in enumerate(words):
            out[n], i = self.step_logprob(prev2, prev1, w)
            prev2, prev1 = prev1, i
        return out

    def perplexity(self, text: str) -> float:
        lps = self.token_logprobs(text)
        if lps.size == 0:
            return float("inf")
        return float(np.exp(-lps.mean()))


# ------------------------------------------------------------------ scrub

# Order matters (alternation is first-match): longer/more-specific
# number shapes (card, SSN, IPv4) before the generic phone pattern.
_PII_PATTERNS = [
    r"\b[\w.+-]+@[\w-]+\.[\w.-]+\b",                     # email
    r"\b(?:\d[ -]?){15}\d\b",                            # 16-digit card
    r"\b\d{3}-\d{2}-\d{4}\b",                            # SSN-shaped
    r"\b(?:\d{1,3}\.){3}\d{1,3}\b",                      # IPv4
    r"(?<!\d)\+?(?:\d[ \-.]?){9,14}\d(?!\d)",            # phone
]

_TOX_LEXICON = [
    "badword1", "badword2", "slurword", "hateterm", "vileword",
    "cursedword", "awfulword", "toxicterm",
]


class ScrubBundle:
    """Compiled PII + toxicity regex bundle (broadcast to executors)."""

    PII_TOKEN = "<PII>"
    TOX_TOKEN = "<TOX>"

    def __init__(self, pii_patterns: list[str], tox_words: list[str]):
        self.pii_patterns = list(pii_patterns)
        self.tox_words = list(tox_words)
        self._pii = re.compile("|".join(f"(?:{p})" for p in pii_patterns))
        self._tox = re.compile(
            r"\b(?:" + "|".join(re.escape(w) for w in tox_words) + r")\b",
            re.IGNORECASE,
        )

    def scrub(self, text: str) -> tuple[str, int, int]:
        """(scrubbed_text, n_pii_hits, n_tox_hits).

        Scalar path — kept as the independently-coded oracle twin of
        :meth:`scrub_series` (the batched hot path), mirroring the
        ``oracle.features.ocr_features`` vs ``batch_text``
        dual-implementation pattern; parity is asserted in
        tests/test_batch_text.py."""
        if not text:
            return text, 0, 0
        out, n_pii = self._pii.subn(self.PII_TOKEN, text)
        out, n_tox = self._tox.subn(self.TOX_TOKEN, out)
        return out, n_pii, n_tox

    def scrub_series(self, texts):
        """Vectorized scrub over a pandas Series of captions.

        Same two-stage semantics as :meth:`scrub` (PII substitution
        first, toxicity on the already-scrubbed text) but expressed as
        whole-column ``Series.str`` ops — no per-row Python loop.
        ``str.count`` counts non-overlapping matches exactly like
        ``re.subn``'s replacement count.  Returns
        ``(scrubbed: Series[str], pii_hits: Series[int32],
        tox_hits: Series[int32])``; null captions scrub to the empty
        string with zero hits (matching the UDF's historical
        ``scrub(cap or "")`` semantics).
        """
        import pandas as pd

        s = pd.Series(texts, dtype="object").fillna("")
        n_pii = s.str.count(self._pii).astype("int32")
        out = s.str.replace(self._pii, self.PII_TOKEN, regex=True)
        n_tox = out.str.count(self._tox).astype("int32")
        out = out.str.replace(self._tox, self.TOX_TOKEN, regex=True)
        return out, n_pii, n_tox

    def __getstate__(self):
        return {"pii_patterns": self.pii_patterns, "tox_words": self.tox_words}

    def __setstate__(self, state):
        self.__init__(state["pii_patterns"], state["tox_words"])


# ------------------------------------------------------------- the bundle

@dataclass
class TextBundle:
    """Everything the caption path needs, shipped once per executor."""

    langid: LangIdModel
    lm: NgramLM
    scrub: ScrubBundle


def build_default_bundle() -> TextBundle:
    corpus = build_corpus()
    langid = LangIdModel.train(corpus)
    # LM trains on the natural-language corpus only (zxx is anti-language)
    lm_sents = [s for lang in CORPUS_LANGS if lang != "zxx" for s in corpus[lang]]
    lm = NgramLM.train(lm_sents)
    return TextBundle(langid, lm, ScrubBundle(_PII_PATTERNS, _TOX_LEXICON))


def save_bundle(bundle: TextBundle, dir_path: str) -> None:
    os.makedirs(dir_path, exist_ok=True)
    np.savez_compressed(
        os.path.join(dir_path, "langid.npz"),
        langs=np.array(bundle.langid.langs),
        logprob=bundle.langid.logprob,
    )
    lm = bundle.lm
    vocab_words = np.array(sorted(lm.vocab, key=lm.vocab.get))
    np.savez_compressed(
        os.path.join(dir_path, "lm.npz"),
        vocab=vocab_words,
        uni=lm.uni,
        bi_keys=np.array(list(lm.bi.keys()), dtype=np.int64).reshape(-1, 2),
        bi_vals=np.array(list(lm.bi.values())),
        tri_keys=np.array(list(lm.tri.keys()), dtype=np.int64).reshape(-1, 3),
        tri_vals=np.array(list(lm.tri.values())),
    )
    with open(os.path.join(dir_path, "scrub.json"), "w") as f:
        json.dump(
            {"pii": bundle.scrub.pii_patterns, "tox": bundle.scrub.tox_words}, f
        )


def load_bundle(dir_path: str) -> TextBundle:
    lz = np.load(os.path.join(dir_path, "langid.npz"), allow_pickle=False)
    langid = LangIdModel([str(x) for x in lz["langs"]], lz["logprob"])
    lmz = np.load(os.path.join(dir_path, "lm.npz"), allow_pickle=False)
    vocab = {str(w): i for i, w in enumerate(lmz["vocab"])}
    bi = {
        (int(k[0]), int(k[1])): float(v)
        for k, v in zip(lmz["bi_keys"], lmz["bi_vals"])
    }
    tri = {
        (int(k[0]), int(k[1]), int(k[2])): float(v)
        for k, v in zip(lmz["tri_keys"], lmz["tri_vals"])
    }
    bi_ctx: dict[int, float] = {}
    for (c, _), v in bi.items():
        bi_ctx[c] = bi_ctx.get(c, 0.0) + v
    tri_ctx: dict[tuple[int, int], float] = {}
    for (a, b, _), v in tri.items():
        tri_ctx[(a, b)] = tri_ctx.get((a, b), 0.0) + v
    lm = NgramLM(vocab, lmz["uni"], bi, tri, bi_ctx, tri_ctx)
    with open(os.path.join(dir_path, "scrub.json")) as f:
        sj = json.load(f)
    return TextBundle(langid, lm, ScrubBundle(sj["pii"], sj["tox"]))


_DEFAULT: TextBundle | None = None


def default_bundle() -> TextBundle:
    """Process-cached bundle for the executor-side UDFs.

    Resolution order (the spark-submit model-artifact path, north rule
    "--files artifacts to every executor"):
    1. $QFILTER_BUNDLE_DIR — explicit artifact directory;
    2. SparkFiles root, when `langid.npz`/`lm.npz`/`scrub.json` were
       shipped with `spark-submit --files` (load_bundle round-trips
       save_bundle identically, tested);
    3. otherwise build the deterministic default in-process.
    """
    global _DEFAULT
    if _DEFAULT is None:
        names = ("langid.npz", "lm.npz", "scrub.json")
        d = os.environ.get("QFILTER_BUNDLE_DIR")
        if not d:
            try:
                from pyspark import SparkFiles

                cand = SparkFiles.getRootDirectory()
                present = [f for f in names if os.path.exists(os.path.join(cand, f))]
                if len(present) == len(names):
                    d = cand
                elif present:
                    # fail loudly on a partial ship — a silent fallback to
                    # the built-in bundle would mask the deployment mistake
                    raise RuntimeError(
                        f"partial artifact bundle in SparkFiles: found {present}, "
                        f"need all of {list(names)}"
                    )
            except RuntimeError:
                raise
            except Exception:  # noqa: BLE001 — no active Spark context
                pass
        _DEFAULT = load_bundle(d) if d else build_default_bundle()
    return _DEFAULT
