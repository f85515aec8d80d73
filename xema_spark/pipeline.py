"""End-to-end training-data curation: the composed pipeline a 100 TB corpus
actually runs — schema validation -> quality / language / repetition filters
-> exact dedupe -> MinHash near-dup dedupe -> PII scrub — expressed so the
expensive stages see progressively fewer rows.

Scan discipline (the 100 TB shape):
- validation + quality ratios fuse into ONE projection over the input scan
  (all pure Column expressions); language-ID and the repetition signals
  share one tagged explode -> two groupBys (text.lang_repetition_table),
  joined back by id;
- exact dedupe is one window on the survivors' content hash;
- the MinHash chain runs on the exact-deduped set, and its Jaccard verifier
  re-shingles candidate docs only (dedup.ngram_jaccard's semi-join
  restriction);
- PII scrub is a final projection.

Every stage is individually oracle-checked elsewhere; the composition is
value-checked end-to-end by the `pipeline_curate` driver query (DuckDB
re-derives the full chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from xema_spark import dedup
from xema_spark import text as T


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    rule: dict | None = None,
    langs: tuple[str, ...] | None = None,
    min_alpha_ratio: float = 0.0,
    max_top_ngram_frac: float = 1.0,
    max_dup_ngram_frac: float = 1.0,
    exact_dedupe: bool = True,
    near_dup_threshold: float | None = 0.8,
    transitive: bool = True,
    hash_fn: str = "xxhash64",
    max_shingles: int = 512,
    scrub_pii: bool = False,
    benchmark: DataFrame | None = None,
    decontaminate_ngram: int = 5,
    decontaminate_min_hits: int = 1,
    paragraph_dedup: bool = False,
    paragraph_sep: str | None = None,
    paragraph_chunk_tokens: int = 4,
    paragraph_min_dup: int = 2,
    max_per_source: int | None = None,
    source_col: str = "source",
    source_salt: str = "v1",
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_cells: int = 16,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
) -> DataFrame:
    """Curated corpus: rows that pass the rule + quality gates, with exact
    and near duplicates removed (keep the lowest id), optionally
    decontaminated against a benchmark/eval set (`benchmark=` drops docs
    sharing >= decontaminate_min_hits token n-grams with it) and with PII
    redacted in place. `max_per_source=` adds the C4-style per-source
    admission quota (sampling.source_caps) as the LAST selection stage —
    quotas choose among otherwise-admitted docs, so they run after every
    quality/dedup gate; the kept set is content-addressed (re-drawable via
    source_salt) and the skew-proof pre-bound keeps a hot source from
    becoming a straggler. `embeddings=` adds a SemDeDup stage after the
    token-level dedup: survivors whose embeddings form a near-duplicate
    component (cosine >= semantic_threshold within a k-means cell) keep
    only the most-atypical member — the paraphrase-level dedup MinHash
    cannot see; docs without an embedding row pass through. Output keeps
    `lang`, `q_alpha_ratio`,
    `top_ngram_frac`, `dup_ngram_frac` alongside the surviving columns so
    downstream sampling can stratify on them.

    Precondition: `id_col` is unique (check with
    stats.uniqueness_violations). The language and repetition stage groups
    by id and text length, so same-length rows sharing an id pool their
    n-grams into one set of signals, and the id-keyed join back fans it
    out over every such row."""
    carry = [source_col] if max_per_source is not None else []
    if rule is not None:
        from xema_spark.compiler import validate_df

        # validate on the (id, text) projection ONLY — carrying the source
        # column through validate_df would change rule semantics (the row
        # struct is the instance, so a strict rule with
        # additional_properties=false would reject every row for having
        # `source`); re-attach it after the gate instead (one id-keyed
        # join of two projections of the same scan)
        base = df.select(id_col, text_col)
        base = (validate_df(base, rule, mode="verdict")
                .filter(F.col("valid")).drop("valid"))
        if carry:
            base = base.join(df.select(id_col, *carry), id_col)
    else:
        base = df.select(id_col, text_col, *carry)

    # language id and repetition share one tagged explode (two Exchanges +
    # one id-keyed join), measured ~2x faster than a per-row higher-order
    # language argmax (SCALING.md "curate language stage"); per-doc gates
    # are order-free, so one filter keeps the stage-by-stage survivors.
    keep = F.col("q_alpha_ratio") >= F.lit(float(min_alpha_ratio))
    if langs:
        keep = keep & F.col("lang").isin(*langs)
    rep_keep = ((F.col("top_ngram_frac") <= F.lit(float(max_top_ngram_frac)))
                & (F.col("dup_ngram_frac") <= F.lit(float(max_dup_ngram_frac))))
    q = (T.quality_features(base, text_col)
         .join(T.lang_repetition_table(base, id_col, text_col), id_col)
         .filter(keep & rep_keep)
         .select(id_col, text_col, "lang", "q_alpha_ratio",
                 "top_ngram_frac", "dup_ngram_frac", *carry))

    # When the ONLY multi-reference consumer is the near-dup stage, the
    # boundary can sit AFTER the (single-reference) exact-dedupe window
    # instead of before it: one checkpoint then covers the near-dup stage's
    # four references AND the final anti-join, and the upstream gate tree
    # is materialized exactly once (guide §1.2 — fewer fixed-latency jobs).
    defer_ckpt = benchmark is None and not paragraph_dedup
    if not defer_ckpt:
        # stage boundary BEFORE any stage that references the survivor frame
        # more than once: the decontamination gate uses it twice (anti-join
        # left side + contaminated-id derivation) and the near-dup stage
        # four times (signature pass, candidate join-back, Jaccard verify on
        # both pair sides, final anti-join). persist() would share the DATA
        # but Catalyst still re-analyzes/re-optimizes the full upstream
        # logical tree once per reference — on this composed plan that is
        # driver-side minutes. localCheckpoint truncates the logical plan to
        # a leaf (the in-session equivalent of writing the survivor table
        # out between stages, which is what a 100 TB run would do). The
        # gate/exact-dedupe nodes added on top of the leaf are shallow, so
        # the near-dup stage needs no second checkpoint.
        q = q.localCheckpoint(eager=True)

    if paragraph_dedup:
        # corpus-level duplicated-passage removal BEFORE the gates below:
        # decontamination and both dedup stages should see the repaired
        # text, not shared boilerplate (which would inflate n-gram overlap
        # and near-dup candidates). Docs the repair did NOT touch keep
        # their original text verbatim (paragraph_dedupe's n_removed=0
        # passthrough); docs the repair EMPTIED are dropped — the quality
        # gates above ran on the pre-repair text, and an all-boilerplate
        # doc has no text left to ship. References the survivor frame
        # twice (passage pass + join back) — covered by the checkpoint
        # above.
        repaired = dedup.paragraph_dedupe(
            q, id_col, text_col, chunk_tokens=paragraph_chunk_tokens,
            sep=paragraph_sep, min_dup=paragraph_min_dup)
        q = q.drop(text_col).join(
            repaired.filter((F.col("n_removed") == 0)
                            | (F.length("text_dedup") > 0))
            .select(id_col, F.col("text_dedup").alias(text_col)),
            id_col)
        if benchmark is not None or near_dup_threshold is not None:
            # the repair join is itself a corpus-wide explode/groupBy/join;
            # without a second boundary here the decontamination gate (2
            # references) and the near-dup stage (4 references) would
            # re-execute the whole repair per reference.
            q = q.localCheckpoint(eager=True)

    if benchmark is not None:
        # eval-set leakage gate on survivors (fewer rows than the raw
        # corpus, and dropping leaked docs shrinks the dedup stages below).
        # The right side of the anti-join is the contaminated-id set —
        # tiny at real leakage rates, so AQE turns this into a broadcast
        # anti-join at runtime rather than a corpus shuffle.
        q = q.join(
            dedup.contaminated_ids(q, benchmark, id_col=id_col,
                                   text_col=text_col, n=decontaminate_ngram,
                                   min_hits=decontaminate_min_hits),
            id_col, "left_anti")

    if exact_dedupe:
        q = dedup.dedupe_exact(q, id_col, text_col)

    if near_dup_threshold is not None:
        if defer_ckpt:
            q = q.localCheckpoint(eager=True)
        pairs = dedup.lsh_candidate_pairs(
            q, id_col, text_col, hash_fn=hash_fn, max_shingles=max_shingles)
        dups = dedup.ngram_jaccard(
            q, pairs, id_col, text_col,
            threshold=near_dup_threshold, max_shingles=max_shingles)
        # transitive default: a boilerplate family A~B~C collapses to ONE
        # survivor even when the (A, C) pair itself was never verified —
        # per-pair pruning can leave up to ceil(k/2) "deduped" survivors of
        # a k-family (VERDICT r3 "What's wrong" #1). Policy + algorithm
        # choice live in dedup.near_dup_losers, shared with minhash_dedupe.
        q = q.join(dedup.near_dup_losers(dups, id_col, transitive),
                   id_col, "left_anti")

    if embeddings is not None:
        from xema_spark import similarity

        # SemDeDup stage (Abbas et al. 2023): paraphrase-level duplicates
        # the token-level MinHash chain above cannot see. Runs on the
        # SURVIVORS' embeddings only (semi-join first — at this point the
        # corpus has already been thinned by every cheaper gate), keeps
        # each duplicate component's most-atypical member. Docs WITHOUT an
        # embedding row pass through untouched (the verdict anti-join
        # removes only ids flagged is_kept = false).
        # boundary before this stage: semantic_dedupe collects its
        # default centroids EAGERLY and the stage references the survivor
        # frame three times (semi-join, centroid draw, final anti-join) —
        # without the leaf, the near-dup chain above would re-execute per
        # reference AND once at centroid-draw time (the 56efc7f lesson).
        q = q.localCheckpoint(eager=True)
        surv_emb = embeddings.select(
            F.col(emb_id_col).alias(id_col), emb_vec_col).join(
            q.select(id_col), id_col, "semi")
        # zero embedded survivors => zero losers: skip rather than let the
        # centroid draw raise on an empty frame (the documented contract
        # is "docs without an embedding row pass through"). The probe is
        # bounded — it reads from the checkpoint leaf, not the full chain.
        if not surv_emb.isEmpty():
            sem_losers = (similarity.semantic_dedupe(
                surv_emb, n_cells=semantic_cells,
                threshold=semantic_threshold,
                id_col=id_col, vec_col=emb_vec_col)
                .filter(~F.col("is_kept")).select(id_col))
            q = q.join(sem_losers, id_col, "left_anti")

    if max_per_source is not None:
        from xema_spark import sampling

        # last selection stage: the quota picks among docs every prior
        # gate admitted; runs before the PII projection so the scrub
        # touches only shipped rows
        q = sampling.source_caps(q, id_col, source_col,
                                 cap=max_per_source, salt=source_salt,
                                 hash_fn=hash_fn)

    if scrub_pii:
        q = T.pii_scrub(q, text_col)
    return q
