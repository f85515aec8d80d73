"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
tables, byte for byte. Nothing here calls into the engine. The interleaved
corpus of `validate_and_stream` comes from `xema_spark.datagen` (a closed
form of the row index); `interleaved_closed_form` recomputes its expected
totals independently.
"""

from __future__ import annotations

import json
import random
import numpy as np

# The flat `documents(doc_id, text, lang, source, n_chars)` vocabulary of the
# engine's reference tables: short technical words, so the alpha ratio sits
# around the curate gate's 0.81 and some documents fall on each side.
VOCAB = ("key agg row scan slow fast table value part hash join small line "
         "customer query big order group column filter sort window stream "
         "batch merge data vector spark a the").split()
LANGS = ("en", "de", "fr", "es", "it", "zh")
# Stopwords that steer `text.lang_id` (a stopword-ratio argmax) per language.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "und", "ist", "nicht", "mit"),
    "fr": ("les", "et", "des", "est", "dans"),
    "es": ("el", "los", "que", "y", "por"),
    "it": ("di", "che", "per", "non", "sono"),
    "zh": (),
}
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
JUNK = ("zqx", "vbnm", "plka", "qwrt", "xkcd", "fjdk", "mnbv", "trew")


def _doc_text(rng: random.Random, lang: str, n_words: int) -> str:
    sw = STOPWORDS[lang]
    words = [rng.choice(sw) if sw and rng.random() < 0.12 else rng.choice(VOCAB)
             for _ in range(n_words)]
    return " ".join(words)


def flat_documents(seed: int, n: int) -> dict[str, list]:
    """`n` rows shaped like the reference `documents` table (doc_id 0..n-1).
    The seed permutes a fixed multiset of languages and lengths and draws
    the words, so every seed gives the engine the same amount of work."""
    rng = random.Random(seed)
    langs = [LANGS[i % len(LANGS)] for i in range(n)]
    lengths = [6 + (85 * i) // max(n - 1, 1) for i in range(n)]
    rng.shuffle(langs)
    rng.shuffle(lengths)
    texts = [_doc_text(rng, lang, k) for lang, k in zip(langs, lengths)]
    return {"doc_id": list(range(n)), "text": texts, "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": [len(t) for t in texts]}


def events(seed: int, n: int) -> dict[str, list]:
    """`n` rows shaped like the reference `events` table."""
    rng = np.random.default_rng(seed)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return {
        "event_id": list(range(n)),
        "ts": ts.tolist(),
        "user_id": rng.integers(0, 150, n).tolist(),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(40.0, n), 2).tolist(),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }


def curate_corpus(seed: int, n: int, exact_share: float = 0.10,
                  near_share: float = 0.15) -> dict[str, list]:
    """(doc_id, text) with ids 0..n-1, all below the `+1000000` range the
    pipeline_curate composition injects its own near-duplicates into.
    Exact copies repeat an earlier document's text with different case and
    punctuation (same normalized hash); near copies append four junk tokens
    (high but not total shingle overlap); the rest are distinct. The numbers
    of copies are fixed by the shares; the seed picks which documents they
    are and what they copy."""
    if n >= 1_000_000:
        raise ValueError("curate corpus ids must stay below 1000000")
    base = flat_documents(seed, n)
    rng = random.Random(seed ^ 0x5EED)
    texts = list(base["text"])
    n_exact, n_near = round(exact_share * n), round(near_share * n)
    copies = rng.sample(range(1, n), n_exact + n_near)
    exact = set(copies[:n_exact])
    for i in sorted(copies):
        src = texts[rng.randrange(i)]
        if i in exact:
            texts[i] = src.upper() + "."
        else:
            texts[i] = src + " " + " ".join(rng.choice(JUNK) for _ in range(4))
    return {"doc_id": base["doc_id"], "text": texts}


def interleaved_closed_form(n_docs: int) -> dict[str, int]:
    """Expected `run_validation` totals for `datagen.gen_documents(n_docs)`
    plus `gen_assets(n_docs)`, recomputed from the FIXTURES T1/T2 index
    arithmetic (not read back from the engine)."""
    i = np.arange(n_docs, dtype=np.int64)
    cls = np.where(i % 13 == 0, (i // 13) % 6, -1)
    n_valid = int(np.count_nonzero(~np.isin(cls, (0, 1, 2, 3))))
    dup_ids = int(np.count_nonzero((i % 101 == 0) & (i > 0)))
    # a dangling-ref doc (class 4) points every media span (odd i+j) past the
    # asset table; it has 1 + i % 7 spans
    dang = i[cls == 4]
    n_spans = 1 + dang % 7
    media = np.where(dang % 2 == 0, n_spans // 2, (n_spans + 1) // 2)
    return {"n_rows": n_docs, "n_valid": n_valid, "duplicate_doc_ids": dup_ids,
            "dangling_refs": int(media.sum())}
