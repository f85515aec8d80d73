"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are pure Column trees (JVM, whole-stage codegen):
tokenization, quality scoring, language-ID and fingerprinting never cross
into Python. Designed for the flat `documents(doc_id, text, lang, source,
n_chars)` table but parameterized on the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# A BPE-ish word/number/symbol segmentation (letters run | digits run |
# single non-space symbol) — the token-count proxy used by data pipelines.
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "was",
           "with", "as", "his", "on", "be", "at", "by", "had", "not", "are"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "ein", "mit",
           "auf", "für", "den", "von", "sich", "dem", "war", "aber", "auch"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans",
           "que", "qui", "pour", "pas", "avec", "sur", "au", "il", "elle"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "no", "por", "con", "para", "su", "se", "del", "al"],
    "it": ["il", "la", "le", "di", "che", "e", "un", "una", "per", "non",
           "con", "del", "della", "si", "sono", "come", "anche", "questo"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_or_zero(col: Column) -> Column:
    """Null-safe whitespace token count as a non-null long. The null gate
    must be EXPLICIT: under legacy sizeOfNull (ansi off) size(split(NULL))
    is -1, not NULL, so a plain coalesce lets null texts contribute -1 —
    the trap that silently corrupted pack_sequences' bucket layout once.
    Every operator that counts tokens goes through here."""
    return (F.when(col.isNotNull(), token_count(col).cast("long"))
            .otherwise(F.lit(0).cast("long")))


def bpe_ish_token_count(col: Column) -> Column:
    return F.coalesce(F.regexp_count(col, F.lit(BPE_ISH)), F.lit(0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape features + a composite
    quality score in [0,1] — one projection, no shuffle."""
    c = F.col(text_col)
    n_chars = F.coalesce(F.length(c), F.lit(0))
    toks = tokens(c)
    n_tokens = F.size(toks)
    n_alpha = F.coalesce(F.regexp_count(c, F.lit(r"[A-Za-z]")), F.lit(0))
    n_punct = F.coalesce(F.regexp_count(c, F.lit(r"[^\w\s]")), F.lit(0))
    n_digit = F.coalesce(F.regexp_count(c, F.lit(r"[0-9]")), F.lit(0))
    mean_tok_len = F.when(n_tokens > 0,
                          F.aggregate(toks, F.lit(0).cast("long"),
                                      lambda a, t: a + F.length(t)).cast("double") / n_tokens
                          ).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for ws in _STOPWORDS.values() for w in ws])
    stop_ratio = F.when(n_tokens > 0,
                        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
                        .cast("double") / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(F.lit(0.0))
    # composite: favor alpha-heavy, some stopwords, sane word length, low noise
    score = (
        F.least(F.lit(1.0), n_tokens.cast("double") / 20.0) * 0.25
        + alpha_ratio * 0.25
        + F.least(F.lit(1.0), stop_ratio * 5.0) * 0.25
        + (1.0 - F.least(F.lit(1.0), punct_ratio * 4.0 + digit_ratio * 2.0)) * 0.25
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(mean_tok_len, 4).alias("q_mean_token_len"),
        F.round(alpha_ratio, 4).alias("q_alpha_ratio"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(digit_ratio, 4).alias("q_digit_ratio"),
        F.round(stop_ratio, 4).alias("q_stopword_ratio"),
        F.round(score, 4).alias("q_score"),
    )


def lang_id_table(df: DataFrame, id_col: str, text_col: str = "text",
                  out_col: str = "lang_pred", min_score: float = 0.05) -> DataFrame:
    """Scalable language-ID: explode tokens once, ONE groupBy(id) with one
    counting aggregate per language (partial aggregation collapses each doc
    map-side), then argmax. The token stream is materialized exactly once
    instead of being re-evaluated per language by interpreted higher-order
    functions. One output row per distinct id (ids are assumed unique, the
    usual corpus contract)."""
    # explode_outer keeps zero-token docs as one NULL-token row, so every
    # doc gets its output row from the ONE groupBy — no second scan of df
    # and no join-back (two fewer Exchanges than the explode+left-join
    # formulation; guide §2.4). count("__t") ignores the NULL placeholder,
    # so __n is still the token count and 0 for empty docs.
    toks = df.select(F.col(id_col),
                     F.explode_outer(tokens(F.col(text_col))).alias("__t"))
    aggs = [F.count("__t").alias("__n")]
    for lang, words in _STOPWORDS.items():
        aggs.append(F.count(F.when(F.col("__t").isin(words), True))
                    .alias(f"__h_{lang}"))
    per = toks.groupBy(id_col).agg(*aggs)
    pick = _lang_pick(F.col("__n"),
                      {lang: F.col(f"__h_{lang}") for lang in _STOPWORDS},
                      min_score)
    return per.select(id_col, pick.alias(out_col))


def _lang_pick(n_tok: Column, hits: dict[str, Column],
               min_score: float) -> Column:
    """The language argmax of both language-ID operators: per-language
    stopword-hit ratio, 'und' for a zero-token doc or when no ratio clears
    min_score, first language in _STOPWORDS order wins a tie.
    greatest(n_tok, 1) keeps the division ANSI-safe for zero-token docs,
    which the n_tok == 0 branch decides before scores matter."""
    denom = F.greatest(n_tok, F.lit(1))
    scores = {lang: hits[lang] / denom for lang in _STOPWORDS}
    m = F.greatest(*scores.values())
    pick = F.when((n_tok == 0) | (m <= min_score), F.lit("und"))
    for lang in _STOPWORDS:
        pick = pick.when(scores[lang] == m, F.lit(lang))
    return pick


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 50,
               min_len: int = 1) -> DataFrame:
    """Corpus-level token frequency top-k (the vocabulary / heavy-hitters
    view a data mix needs): explode tokens once, ONE partial-aggregated
    groupBy(token), then orderBy+limit — which compiles to
    TakeOrderedAndProject (per-task k-row heap, no global sort). Ties break
    on the token string so the k-th place is deterministic for oracle
    comparison."""
    t = df.select(F.explode(tokens(F.col(text_col))).alias("token")) \
        .filter(F.length("token") >= min_len)
    return (t.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(k))


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse non-alnum."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "")


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (cross-engine stable)."""
    return F.md5(normalize_text(col))


def repetition_signals(df: DataFrame, id_col: str, text_col: str = "text",
                       top_n: int = 2, dup_n: int = 5) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 —
    public paper): per document,
      top_ngram_frac — fraction of the doc's characters covered by
        occurrences of its single most frequent word `top_n`-gram
        (repetitive boilerplate pushes this toward 1), and
      dup_ngram_frac — fraction of characters inside word `dup_n`-grams
        whose n-gram occurs more than once in the doc.
    Both are the documented char-mass variant (count x gram length, capped
    at 1.0): overlap-exact accounting needs per-position interval math that
    buys no extra filtering power.

    Scale shape: BOTH n-gram families explode in ONE pass as (doc, tag,
    gram) rows, so the two masses share one groupBy(doc, tag, gram) count
    and one groupBy(doc) rollup (two Exchanges total, versus four Exchanges
    + two joins when each family aggregated separately — guide §2.4). The
    most-frequent gram is max(struct(cnt, len, gram)) — one aggregate, a
    deterministic (cnt, len, gram) tie-break, no window. Map-side partial
    aggregation bounds partitions by doc size, never a per-row
    higher-order recomputation (the minhash lesson). Ids are assumed
    unique (the corpus contract): rows sharing an id and a text length
    pool their grams into one output row."""
    return _tagged_ngrams(df, id_col, text_col, top_n, dup_n)


def lang_repetition_table(df: DataFrame, id_col: str, text_col: str = "text",
                          top_n: int = 2, dup_n: int = 5,
                          lang_col: str = "lang",
                          min_score: float = 0.05) -> DataFrame:
    """lang_id_table + repetition_signals fused into ONE explode + two
    groupBys: tokens, top_n-grams and dup_n-grams explode together as
    (doc, tag, item) rows, one groupBy(doc, tag, item) counts them, one
    groupBy(doc) rolls up the language argmax AND both repetition masses.
    Returns one row per doc:
    (id_col, lang_col, top_ngram_frac, dup_ngram_frac).

    Same language pick as lang_id_table and the same masses as
    repetition_signals, so a pipeline that gates on language and
    repetition — pipeline.curate's hot path — pays two Exchanges and one
    join-back instead of the five Exchanges and three joins of composing
    them separately (guide §2.4). Per-language hits aggregate as
    sum(cnt · isin) over the counted distinct tokens, which equals the
    per-token count. Ids are assumed unique, as in repetition_signals."""
    return _tagged_ngrams(df, id_col, text_col, top_n, dup_n,
                          lang_col=lang_col, min_score=min_score)


_TOK, _TOP, _DUP = 0, 1, 2  # item tags of the _tagged_ngrams explode


def _tagged_ngrams(df: DataFrame, id_col: str, text_col: str, top_n: int,
                   dup_n: int, lang_col: str | None = None,
                   min_score: float = 0.05) -> DataFrame:
    """The tagged n-gram core of repetition_signals and (with `lang_col`)
    lang_repetition_table: top_n-grams, dup_n-grams and, for the language
    pick, the tokens explode as (doc, tag, item) rows; one
    groupBy(doc, n_chars, tag, item) counts them and one groupBy(doc,
    n_chars) rolls up the masses (and the per-language hits)."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)

    def grams(n: int, tag: int) -> Column:
        return F.when(
            n_tokens >= n,
            F.transform(F.sequence(F.lit(1), n_tokens - (n - 1)),
                        lambda i: F.struct(
                            F.lit(tag).alias("tag"),
                            F.concat_ws(" ", F.slice(toks, i, n))
                            .alias("item"))),
        ).otherwise(F.array().cast("array<struct<tag:int,item:string>>"))

    items = [grams(top_n, _TOP), grams(dup_n, _DUP)]
    if lang_col is not None:
        items.insert(0, F.transform(
            toks, lambda t: F.struct(F.lit(_TOK).alias("tag"),
                                     t.alias("item"))))
    # explode_outer + n_chars carried through the grouping keys (n_chars is
    # functionally determined by doc): zero-item docs keep their output row
    # without a join-back, so the operator is one scan and two Exchanges
    base = df.select(F.col(id_col).alias("doc"),
                     F.coalesce(F.length(text_col), F.lit(0)).alias("n_chars"),
                     F.concat(*items).alias("_g"))
    cnt = (base.select("doc", "n_chars", F.explode_outer("_g").alias("g"))
           .groupBy("doc", "n_chars", F.col("g.tag").alias("tag"),
                    F.col("g.item").alias("item"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    tag = F.col("tag")
    m_top = F.max(F.when(tag == _TOP,
                         F.struct(F.col("cnt"), F.length("item").alias("glen"),
                                  F.col("item"))))
    aggs = [(m_top.getField("cnt") * m_top.getField("glen")).cast("long")
            .alias("top_mass"),
            F.sum(F.when((tag == _DUP) & (F.col("cnt") > 1),
                         F.col("cnt") * F.length("item"))
                  .otherwise(F.lit(0))).cast("long").alias("dup_mass")]
    out = [F.col("doc").alias(id_col)]
    if lang_col is not None:
        is_tok = tag == _TOK
        aggs.append(F.sum(F.when(is_tok, F.col("cnt"))).alias("__n"))
        for lang, words in _STOPWORDS.items():
            aggs.append(F.sum(F.when(is_tok & F.col("item").isin(words),
                                     F.col("cnt"))).alias(f"__h_{lang}"))
        # a zero-token doc survives the explode_outer as one NULL-item row
        # whose token sums are NULL -> coalesce to 0 -> 'und', masses 0
        out.append(_lang_pick(
            F.coalesce(F.col("__n"), F.lit(0)),
            {lang: F.coalesce(F.col(f"__h_{lang}"), F.lit(0))
             for lang in _STOPWORDS}, min_score).alias(lang_col))
    per = cnt.groupBy("doc", "n_chars").agg(*aggs)
    frac = lambda mass: F.round(
        F.least(F.lit(1.0), F.coalesce(mass, F.lit(0)).cast("double")
                / F.greatest(F.col("n_chars"), F.lit(1))), 6)
    return per.select(*out, frac(F.col("top_mass")).alias("top_ngram_frac"),
                      frac(F.col("dup_mass")).alias("dup_ngram_frac"))


# PII patterns kept to regex constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): char classes, bounded quantifiers, \b.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\+[0-9][0-9 ()-]{7,}[0-9]",
}


def pii_scrub(df: DataFrame, text_col: str = "text",
              patterns: dict[str, str] | None = None,
              token: str = "[PII]") -> DataFrame:
    """Redact PII spans in place and count matches per class — one
    projection, no shuffle, no Python: chained regexp_replace for the
    redaction plus one regexp_count per class. Adds `{text_col}_redacted`
    and `pii_{class}` count columns; `pii_total` sums them."""
    pats = patterns or PII_PATTERNS
    red = F.col(text_col)
    counts = []
    for name, pat in pats.items():
        counts.append(F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)),
                                 F.lit(0)).alias(f"pii_{name}"))
        red = F.regexp_replace(red, pat, token)
    out = df.select("*", red.alias(f"{text_col}_redacted"), *counts)
    total = sum((F.col(f"pii_{n}") for n in pats), F.lit(0))
    return out.withColumn("pii_total", total)


def winnow_fingerprints(df: "DataFrame", id_col: str, text_col: str = "text",
                        k: int = 5, w: int = 4,
                        hash_fn: str = "xxhash64") -> "DataFrame":
    """Winnowing document fingerprints (the MOSS scheme): hash every k-gram
    of the normalized text, slide a window of w consecutive hashes, keep
    each window's minimum — the distinct minima are the doc's fingerprint
    set. Robust to local edits: an edit only perturbs the k-grams (and
    windows) it touches, so unrelated regions keep identical fingerprints —
    the substring-match primitive exact/minhash dedup can't give you.

    Scale shape: k-grams are EXPLODED to (doc, pos, hash) rows and the
    window minimum is a rows-between window partitioned per doc — partitions
    are document-sized (bounded), never corpus-sized, so no skew. The
    'portable' hash flavor makes the whole operator DuckDB-reproducible."""
    from xema_spark.dedup import portable_hash31

    norm = F.substring(normalize_text(F.col(text_col)), 1, 32768)
    # one lookahead-regex scan yields every overlapping k-gram in order in
    # O(len) (vs O(len^2) substr-by-index), and is empty — not [1,0]-bogus —
    # for texts shorter than k, which also closes the sequence(1,0) hazard
    grams = F.regexp_extract_all(norm, F.lit(f"(?=(.{{{k}}}))"), 1)
    g = (df.select(F.col(id_col).alias("doc"), grams.alias("g"))
         .filter(F.size("g") >= w)
         .select("doc", F.posexplode("g").alias("pos", "gram")))
    hcol = (portable_hash31(F.col("gram")) if hash_fn == "portable"
            else F.xxhash64(F.col("gram")))
    h = g.select("doc", "pos", hcol.alias("h"))
    win = Window.partitionBy("doc").orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    n_win = Window.partitionBy("doc")
    return (h.select("doc", "pos",
                     F.min("h").over(win).alias("fp"),
                     F.count(F.lit(1)).over(n_win).alias("__n"))
            .filter(F.col("pos") <= F.col("__n") - w)  # complete windows only
            .select("doc", "fp").distinct())


def winnow_overlap(df: "DataFrame", id_col: str, text_col: str = "text",
                   k: int = 5, w: int = 4, hash_fn: str = "xxhash64",
                   min_shared: int = 2, max_fp_docs: int = 64) -> "DataFrame":
    """Cross-document substring-overlap pairs — the REPORT stage of the MOSS
    scheme layered on `winnow_fingerprints`: two docs that share winnowed
    fingerprints share verbatim k-char substrings (robust to edits outside
    the shared region), which catches partial/contained duplication that
    whole-document MinHash under-scores. Returns
    (doc_a, doc_b, shared) — the count of distinct fingerprints each
    UNORDERED pair (doc_a < doc_b, one row per pair) has in common,
    `shared >= min_shared` only.

    Scale shape: fingerprints occurring in more than `max_fp_docs` documents
    are culled BEFORE the self-join (the frequency cull MOSS itself applies
    to boilerplate) — so the fp-keyed hash self-join fans out to at most
    max_fp_docs^2/2 pairs per fingerprint, never corpus^2; the pair count is
    one partial-aggregated groupBy. No all-pairs stage anywhere."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_fp_docs < 2:
        raise ValueError(f"max_fp_docs must be >= 2, got {max_fp_docs}")
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w, hash_fn=hash_fn)
    rare = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") <= max_fp_docs).select("fp"))
    culled = fps.join(rare, "fp")
    pairs = (culled.select("fp", F.col("doc").alias("doc_a"))
             .join(culled.select("fp", F.col("doc").alias("doc_b")), "fp")
             .filter(F.col("doc_a") < F.col("doc_b")))
    # fps is distinct (doc, fp), so count(1) per pair == distinct shared fps
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared))


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str = "text",
                    k: int = 3, min_len: int = 1) -> DataFrame:
    """Per-document top-k characteristic terms by smoothed TF-IDF
    (tf * (ln((N+1)/(df+1)) + 1) — the sklearn smooth_idf formula, public).
    The keyword-extraction view a data-mixture needs alongside top_tokens'
    corpus-level vocabulary. Returns (id_col, token, tf, df_docs, tfidf,
    rank), rank 1..k per document, ties broken on the token string so the
    k-th place is deterministic for oracle comparison.

    Scale shape: one explode, ONE partial-aggregated groupBy(doc, token);
    document frequency reuses that frame (groupBy(token) over already
    doc-distinct rows — no second corpus scan); N rides in as a broadcast
    single-row cross join, never a driver collect. The top-k window
    partitions by doc id — each partition is one document's vocabulary,
    bounded by the document itself. Zero-token docs simply emit no rows.
    """
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("token"))
           .filter(F.length("token") >= min_len))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    raw = (F.col("tf") *
           (F.log((F.col("n_docs") + F.lit(1)).cast("double") /
                  (F.col("df_docs") + F.lit(1))) + F.lit(1.0)))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n))
              .withColumn("_raw", raw))
    w = Window.partitionBy(id_col).orderBy(F.desc("_raw"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "token", "tf", "df_docs",
                    F.round("_raw", 6).alias("tfidf"),
                    F.col("rank").cast("long").alias("rank")))


def lm_score(df: DataFrame, id_col: str, text_col: str = "text",
             add_k: float = 0.5) -> DataFrame:
    """Corpus-trained bigram language-model quality score — the CCNet-style
    perplexity signal (public: Wenzek et al. 2019 §4.2 filter LM; here the
    LM is trained on the corpus itself instead of an external KenLM, so the
    score measures how TYPICAL a document's word transitions are for this
    corpus: gibberish and boilerplate-free word salad score high perplexity,
    fluent in-distribution text low).

    Add-k smoothed conditional: p(w2|w1) = (c(w1,w2)+k) / (c_ctx(w1)+k*V)
    where c_ctx(w1) = occurrences of w1 as a bigram context (so the
    distribution sums to <=1 exactly) and V = distinct corpus tokens.
    Per doc: avg_nll = mean over its bigram positions of -ln p, and
    ppl = exp(avg_nll). Docs with < 2 tokens return null scores (no
    transitions to judge), flagged scoreable=false.

    Scale shape (100 TB): bigram extraction is one projection (O(1)
    element_at over the token array — arrays are indexed, unlike UTF8
    substr). The corpus is scanned three times — bigram counting, the
    scoring probe, and the vocabulary distinct-count (exact countDistinct
    for oracle parity; a real deployment can swap approx_count_distinct) —
    NOT four: the context count c_ctx(w1) is the w1-marginal of the
    already-reduced c(w1,w2) table (every bigram occurrence contributes
    its w1 exactly once), so it aggregates vocabulary-sized input, never
    re-scans the corpus. Scoring joins the bigram stream back to the count
    tables — shuffle hash joins whose hot keys (stopword bigrams) are
    exactly AQE skew-join splits — then ONE groupBy(doc) average.
    Self-trained means the join always hits: no smoothing-path branch in
    the hot loop.
    """
    toks = tokens(F.col(text_col))
    big = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    ex = (df.select(F.col(id_col).alias("doc"), big.alias("_b"))
          .select("doc", F.explode("_b").alias("bg"))
          .select("doc", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")))
    bg_counts = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (df.select(F.explode(tokens(F.col(text_col))).alias("t"))
             .agg(F.countDistinct("t").alias("v")))
    nll = -F.log((F.col("c12") + F.lit(add_k)) /
                 (F.col("c1") + F.lit(add_k) * F.col("v")))
    scored = (ex.join(bg_counts, ["w1", "w2"])
              .join(ctx_counts, "w1")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.avg(nll).alias("_nll")))
    return (df.select(F.col(id_col))
            .join(scored, F.col(id_col) == F.col("doc"), "left").drop("doc")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.col("_nll").isNotNull().alias("scoreable"),
                    F.round("_nll", 6).alias("avg_nll"),
                    F.round(F.exp("_nll"), 6).alias("ppl")))


def bm25_scores(df: DataFrame, id_col: str, query_terms: list[str],
                text_col: str = "text", k1: float = 1.2,
                b: float = 0.75, unique_ids: bool = True) -> DataFrame:
    """Per-document BM25 relevance against a fixed term set (public:
    Robertson-Sparck Jones probabilistic relevance, the Lucene/Okapi form)
    — the lexical-retrieval complement of the embedding ANN family, and
    the scoring a keyword-targeted corpus slice ("find the docs about X
    to upsample") needs:

        score(d) = sum_t idf(t) * tf(t,d)*(k1+1)
                   / (tf(t,d) + k1*(1 - b + b*|d|/avgdl))
        idf(t)   = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    with |d| the doc's token count and avgdl the corpus mean. One row per
    input doc: (id_col, n_terms_hit, bm25), score 0.0 for docs hitting no
    term, round-6 doubles.

    Scale shape (100 TB corpus, small term set): the token stream is
    exploded ONCE and filtered to the query terms immediately (the filter
    rides before the groupBy, so the corpus-wide shuffle carries only
    matching tokens); df_t aggregates the already doc-distinct tf frame;
    N/avgdl ride as one broadcast row; final reduce is ONE
    partial-aggregated groupBy(doc). The term list is a plan literal —
    fine for the 10^1-10^3 terms a slice query uses.

    `unique_ids=True` (default, the shuffle-free-dl path) REQUIRES id_col
    to uniquely identify rows — the usual corpus contract, checkable with
    `stats.uniqueness_violations`. With duplicate ids it would both merge
    tf across same-length duplicates and fan scores back onto every row;
    set `unique_ids=False` to treat duplicate ids as FRAGMENTS of one
    logical document instead (dl = summed length, tf = summed counts,
    N/avgdl over distinct ids, ONE output row per distinct id) at the
    cost of an (id, dl) pre-aggregation and a doc-keyed join."""
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc"),
                     token_count_or_zero(F.col(text_col)).alias("dl"),
                     toks.alias("_tk"))
    if unique_ids:
        stats = base.agg(F.count(F.lit(1)).alias("n_docs"),
                         F.avg("dl").alias("avgdl"))
        tf = (base.select("doc", "dl", F.explode("_tk").alias("t"))
              .filter(F.col("t").isin(*terms))
              .groupBy("doc", "dl", "t").agg(F.count(F.lit(1)).alias("tf")))
        out_ids = df.select(F.col(id_col).alias("doc"))
    else:
        dls = base.groupBy("doc").agg(F.sum("dl").alias("dl"))
        stats = dls.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.avg("dl").alias("avgdl"))
        tf = (base.select("doc", F.explode("_tk").alias("t"))
              .filter(F.col("t").isin(*terms))
              .groupBy("doc", "t").agg(F.count(F.lit(1)).alias("tf"))
              .join(dls, "doc"))
        out_ids = dls.select("doc")
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5)))
    part = (idf * F.col("tf") * F.lit(k1 + 1.0)
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
               + F.lit(b) * F.col("dl") / F.col("avgdl"))))
    scored = (tf.join(F.broadcast(dfreq), "t")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc")
              .agg(F.count(F.lit(1)).alias("n_terms_hit"),
                   F.sum(part).alias("_s")))
    return (out_ids
            .join(scored, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("n_terms_hit", F.lit(0)).alias("n_terms_hit"),
                    F.round(F.coalesce("_s", F.lit(0.0)), 6).alias("bm25")))
