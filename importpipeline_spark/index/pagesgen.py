"""Deterministic synthetic Common-Crawl-style ``pages`` corpus.

Schema per BASELINE.json input_hint / FIXTURES.md §1:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

``text`` is the *expected extraction golden*, constructed independently of the
HTML parser from the same building blocks the HTML is assembled from — so the
distributed extraction path is verified against a golden that does not share
code with it. The HTML exercises the reference's extraction semantics
(/root/reference/ImportPipeline/Html/HtmlProcessor.cs:274-339, 446-460):
nested block/inline tags, HTML entities, comments, dropped
<style>/<script>/<noscript>/<object>, whitespace-only text nodes, <pre>
blocks, mail-like div.email-entry duplication, and plain-text passthrough
(QuessIsHtml false).

Generation is per-row deterministic: row i is produced from
``numpy.random.default_rng([seed, i])`` so output is identical regardless of
partitioning, parallelism, or scale factor prefix. Distributed generation via
``spark.range(n).mapInPandas`` — no driver-side loops, scales to bench sizes.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

LANGS = ["en", "de", "fr", "nl", "und"]
_LANG_CUM = np.cumsum([0.90, 0.04, 0.03, 0.02, 0.01])

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "that", "for", "with", "was", "his"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "für", "über"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "dans", "été", "à"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "zijn", "óók", "meer"],
    "und": [],
}

_SYLLABLES = [
    "ba", "co", "du", "fe", "gi", "ho", "ka", "lu", "me", "ni",
    "po", "qua", "ri", "so", "tu", "ve", "wo", "xa", "ye", "zo",
    "ché", "lüt", "mân", "née", "öst", "ský", "tré", "ürn",
]

_ENTITY_MAP = [("é", "&eacute;"), ("ü", "&uuml;"), ("&", "&amp;"), ("…", "&#x2026;")]

_ZIPF_S = 1.1
_VOCAB_SIZE = {"en": 50000, "de": 8000, "fr": 8000, "nl": 8000, "und": 4000}

_vocab_cache: dict = {}


def vocab(lang: str) -> np.ndarray:
    """Deterministic per-language vocabulary; head = real stopwords (the Zipf
    head produces genuinely skewed postings — FIXTURES.md §1)."""
    v = _vocab_cache.get(lang)
    if v is not None:
        return v
    size = _VOCAB_SIZE[lang]
    words: List[str] = list(_STOPWORDS[lang])
    n_syll = len(_SYLLABLES)
    i = 0
    while len(words) < size:
        a = _SYLLABLES[i % n_syll]
        b = _SYLLABLES[(i // n_syll) % n_syll]
        c = _SYLLABLES[(i // (n_syll * n_syll)) % n_syll]
        words.append(f"{lang[0]}{a}{b}{c}{i % 10}")
        i += 1
    arr = np.array(words[:size], dtype=object)
    _vocab_cache[lang] = arr
    return arr


_cum_cache: dict = {}


def _zipf_cum(lang: str) -> np.ndarray:
    c = _cum_cache.get(lang)
    if c is None:
        w = (np.arange(1, _VOCAB_SIZE[lang] + 1, dtype=np.float64)) ** (-_ZIPF_S)
        c = np.cumsum(w)
        _cum_cache[lang] = c
    return c


def _sample_words(rng: np.random.Generator, lang: str, k: int) -> List[str]:
    cum = _zipf_cum(lang)
    idx = np.searchsorted(cum, rng.random(k) * cum[-1], side="right")
    return list(vocab(lang)[np.minimum(idx, len(cum) - 1)])


_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_N_HOSTS = 1000
_HOST_CUM = np.cumsum((np.arange(1, _N_HOSTS + 1, dtype=np.float64)) ** (-_ZIPF_S))

# ---- "web" profile: crawl-ordered topic/host locality + bursty tf ----
#
# The uniform profile's term occurrences are i.i.d. per doc, so per-block
# posting statistics (max_tf, min_dl) concentrate and block-max bounds come
# out flat — no pruning scheme can skip decodes there (PLANS §14). Real
# web crawls are nothing like that: a crawl visits hosts in runs, a host has
# a topic (its pages reuse a host-specific vocabulary heavily), pages repeat
# their topical words many times (burstiness), and document length is
# strongly host-dependent (forums vs link farms). The web profile models
# exactly those four properties, each with a public-web justification:
#
# - crawl segments of _SEG_DOCS consecutive row_ids share ONE host
#   (crawl-order locality);
# - each segment draws a topic = a _TOPIC_SLICE-word slice of the
#   mid-frequency vocabulary; a p_topic share of the doc's working set
#   comes from it (host-topicality);
# - tokens are drawn from a small per-doc working set with a zipf weight —
#   the burstiness that makes topical tf reach the dozens while background
#   occurrences stay at tf 1-2;
# - per-segment dl_scale multiplies a heavy-tailed doc length.
_SEG_DOCS = 1024
_TOPIC_SLICE = 400
_BURST_S = 1.3
# background (non-topical) draws use a steeper zipf than the uniform
# profile: real background prose is dominated by function words, while
# mid-band content words occur almost exclusively where they are topical —
# this is what keeps a topical term's posting list concentrated in its
# hosts' doc ranges instead of smearing one-off occurrences everywhere
_BG_ZIPF_S = 1.35
_SLICE_W = (np.arange(1, _TOPIC_SLICE + 1, dtype=np.float64)) ** (-_ZIPF_S)
_SLICE_CUM = np.cumsum(_SLICE_W)

_bg_cum_cache: dict = {}


def _bg_cum(lang: str) -> np.ndarray:
    c = _bg_cum_cache.get(lang)
    if c is None:
        w = (np.arange(1, _VOCAB_SIZE[lang] + 1, dtype=np.float64)) ** (-_BG_ZIPF_S)
        c = np.cumsum(w)
        _bg_cum_cache[lang] = c
    return c

_seg_cache: dict = {}


def _seg_params(seed: int, seg: int) -> dict:
    """Deterministic per-crawl-segment parameters (host, topic, doc-length
    scale). Cached per worker; pure function of (seed, seg)."""
    key = (seed, seg)
    got = _seg_cache.get(key)
    if got is None:
        rng = np.random.default_rng([seed, 7_777_777, seg])
        got = {
            "host": int(rng.integers(0, _N_HOSTS)),
            "dl_scale": float(np.exp(rng.normal(0.0, 0.7))),
            "u_topic": float(rng.random()),
            "p_topic": float(rng.uniform(0.25, 0.65)),
        }
        _seg_cache[key] = got
    return got


def _sample_words_web(
    rng: np.random.Generator, lang: str, k: int, sp: dict
) -> List[str]:
    """Bursty working-set sampler: build a small per-doc vocabulary (topic
    slice + global zipf), then draw the doc's k tokens from it with a zipf
    weight — the first (topical) entries get the burst mass."""
    size = _VOCAB_SIZE[lang]
    m = max(4, k // 8)
    n_topic = int(round(sp["p_topic"] * m))
    t0 = 100 + int(sp["u_topic"] * max(1, size - 100 - _TOPIC_SLICE))
    t_idx = np.searchsorted(
        _SLICE_CUM, rng.random(n_topic) * _SLICE_CUM[-1], side="right"
    )
    topic_ranks = t0 + np.minimum(t_idx, _TOPIC_SLICE - 1)
    cum = _bg_cum(lang)
    bg_idx = np.searchsorted(
        cum, rng.random(m - n_topic) * cum[-1], side="right"
    )
    bg_ranks = np.minimum(bg_idx, len(cum) - 1)
    ranks = np.concatenate([topic_ranks, bg_ranks])
    bw = np.cumsum(
        (np.arange(1, len(ranks) + 1, dtype=np.float64)) ** (-_BURST_S)
    )
    pick = np.searchsorted(bw, rng.random(k) * bw[-1], side="right")
    return list(vocab(lang)[ranks[np.minimum(pick, len(ranks) - 1)]])


def _esc(word: str) -> str:
    # words are alnum+diacritics by construction; entities injected explicitly
    return word


def _maybe_entity_encode(word: str, rng: np.random.Generator) -> str:
    """Encode one decodable char as an HTML entity (decode happens at append
    time — HtmlProcessor.cs:279)."""
    for ch, ent in _ENTITY_MAP:
        if ch in word:
            if rng.random() < 0.5:
                return word.replace(ch, ent, 1)
    return word


def _para_html_and_text(
    words: List[str], rng: np.random.Generator
) -> Tuple[str, str]:
    """One block element. Returns (html, expected_text_contribution)."""
    text = " ".join(words)
    enc = [_maybe_entity_encode(_esc(w), rng) for w in words]
    # inline wrapping of single words doesn't change extracted text as long as
    # wrapped words are never adjacent: with a <head> present the reference
    # removes whitespace-only text nodes document-wide (HtmlProcessor.cs:95-97),
    # so a bare ' ' between two wrapped words would be dropped and the words
    # glued. Non-adjacent wraps keep every separator inside a non-empty text
    # node (Inline tags themselves add no blanks — HtmlProcessor.cs:294,302).
    n_wrap = int(rng.integers(0, max(1, len(enc) // 6) + 1))
    if n_wrap:
        cand = sorted(
            int(j)
            for j in rng.choice(len(enc), size=min(n_wrap, len(enc)), replace=False)
        )
        prev = -2
        for j in cand:
            if j - prev < 2:
                continue
            prev = j
            tag = ["b", "em", "span", "strong", "code"][int(rng.integers(0, 5))]
            enc[j] = f"<{tag}>{enc[j]}</{tag}>"
    body = " ".join(enc)
    shape = rng.random()
    if shape < 0.70:
        return f"<p>{body}</p>", text
    if shape < 0.80:
        return f"<pre>{body}</pre>", text
    if shape < 0.90:
        # nested blocks: h2 + p inside a div → single space between them
        half = max(1, len(words) // 3)
        h = " ".join(enc[:half])
        p = " ".join(enc[half:])
        ht = " ".join(words[:half])
        pt = " ".join(words[half:])
        joined = f"{ht} {pt}" if pt else ht
        return f"<div><h2>{h}</h2><p>{p}</p></div>", joined
    return f"<blockquote>{body}</blockquote>", text


_NOISE = [
    "<!-- generated page -->",
    "<script>var x = 1 < 2;</script>",
    "<style>.c{color:#333}</style>",
    "<noscript>enable js</noscript>",
    "<div></div>",
]


def gen_page(row_id: int, seed: int = 42, profile: str = "uniform") -> dict:
    """Build one deterministic page row. Pure function of (seed, row_id,
    profile). ``profile="uniform"`` is the original i.i.d. corpus (kept
    byte-stable — existing fixtures and goldens depend on it);
    ``profile="web"`` adds crawl/host locality, topic burstiness, and
    host-dependent doc length (see the _SEG_DOCS block comment)."""
    rng = np.random.default_rng([seed, row_id])
    lang = LANGS[int(np.searchsorted(_LANG_CUM, rng.random(), side="right").item())]
    if profile == "web":
        sp = _seg_params(seed, row_id // _SEG_DOCS)
        host = sp["host"]
        sample = lambda rng_, lang_, k: _sample_words_web(rng_, lang_, k, sp)  # noqa: E731
    elif profile == "uniform":
        host = int(np.searchsorted(_HOST_CUM, rng.random() * _HOST_CUM[-1], side="right"))
        sample = _sample_words
    else:
        raise ValueError(f"unknown pages profile: {profile!r}")
    url = f"https://host{host:04d}.example/p/{row_id:010d}"
    ts = _EPOCH + timedelta(seconds=int(row_id) * 7 + int(rng.integers(0, 5)))

    if profile == "web":
        doc_len = int(np.clip(rng.lognormal(3.8, 1.0) * sp["dl_scale"], 10, 4000))
    else:
        doc_len = int(np.clip(rng.lognormal(4.0, 0.8), 10, 800))
    kind = rng.random()

    if kind < 0.02:
        # plain-text passthrough: QuessIsHtml → false (HtmlProcessor.cs:160-182)
        words = sample(rng, lang, doc_len)
        text = " ".join(words)
        return {"url": url, "warc_ts": ts, "html": text.encode("utf-8"),
                "text": text, "lang": lang}

    if kind < 0.07:
        # mail-like duplicated div.email-entry: keep the div with the most
        # descendants, drop the rest (undupMailNodes, HtmlProcessor.cs:126-158)
        n_div = int(rng.integers(2, 5))
        sizes = list(rng.permutation(np.arange(1, n_div + 1) * 2))
        parts, texts = [], []
        for m in sizes:
            paras = []
            ptexts = []
            for _ in range(int(m)):
                w = sample(rng, lang, max(3, doc_len // (2 * int(m))))
                paras.append(f"<p>{' '.join(w)}</p>")
                ptexts.append(" ".join(w))
            parts.append(f'<div class="email-entry">{"".join(paras)}</div>')
            texts.append(" ".join(ptexts))
        winner = int(np.argmax(sizes))
        body = "\n".join(parts)
        html = (
            "<!DOCTYPE html>\n<html>\n<head>\n<title>mail</title>\n"
            '<meta charset="utf-8"/>\n</head>\n<body>\n' + body + "\n</body>\n</html>"
        )
        return {"url": url, "warc_ts": ts, "html": html.encode("utf-8"),
                "text": texts[winner], "lang": lang}

    # standard page
    n_para = max(1, doc_len // 30)
    per = max(3, doc_len // n_para)
    blocks, texts = [], []
    for _ in range(n_para):
        w = sample(rng, lang, per)
        # occasional mixed-case word (exercises lowercase in the analyzer)
        if rng.random() < 0.3:
            j = int(rng.integers(0, len(w)))
            w[j] = w[j].capitalize()
        h, t = _para_html_and_text(w, rng)
        blocks.append(h)
        if rng.random() < 0.25:
            blocks.append(_NOISE[int(rng.integers(0, len(_NOISE)))])
        texts.append(t)
    title_w = " ".join(sample(rng, lang, 4))
    html = (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        f"<title>{title_w}</title>\n"
        '<meta charset="utf-8"/>\n<style>body{margin:0}</style>\n'
        "</head>\n<body>\n" + "\n".join(blocks) + "\n</body>\n</html>"
    )
    return {"url": url, "warc_ts": ts, "html": html.encode("utf-8"),
            "text": " ".join(texts), "lang": lang}


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def gen_pages_df(spark, n_rows: int, seed: int = 42,
                 partitions: int | None = None, profile: str = "uniform"):
    """Distributed deterministic generation: spark.range → mapInPandas."""
    if partitions is None:
        # enough splits to feed a wide cluster through the downstream
        # CPU-heavy extraction stage (files are re-split on read anyway, but
        # small files don't split)
        partitions = max(64, n_rows // 20000)
    rdd_df = spark.range(0, n_rows, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(int(i), seed, profile) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return rdd_df.mapInPandas(gen, schema=PAGES_SCHEMA)


def write_pages(spark, path: str, n_rows: int, seed: int = 42,
                profile: str = "uniform") -> None:
    gen_pages_df(spark, n_rows, seed, profile=profile).write.mode(
        "overwrite"
    ).parquet(path)
