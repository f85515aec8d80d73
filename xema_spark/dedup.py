"""Deduplication operators for training-data pipelines, Spark-first.

Five families, each with a distinct scale/recall trade-off:

- exact:        md5-groupBy; partial (map-side) aggregation makes the shuffle
                carry one row per distinct hash per task — skew-proof.
- minhash+LSH:  shingle -> k minhashes -> band keys -> bucket self-join.
                Candidate generation touches only band-key collisions; the
                O(n^2) pair space is never materialized.
- simhash:      64-bit signature via per-bit majority of token hashes, all in
                Column expressions; near-dup = small hamming distance
                (bit_count(a^b)), grouped by simhash band prefix.
- n-gram jaccard: exact verification on candidate pairs (array_intersect /
                array_union on shingle sets).
- embedding cosine: see similarity.py (LSH-bucketed cosine join).

Everything below is deterministic (hash-mixed constants, no RNG) and pure
Column expressions — no Python on executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from xema_spark.text import normalize_text, tokens

# Mersenne prime 2^31-1: the permutation field for the PORTABLE minhash
# flavor. a,b < 2^31 and hashes reduced below 2^31 keep every intermediate
# product < 2^62, so the affine permutation is exact under ANSI mode (no
# silent wrap, no ARITHMETIC_OVERFLOW) AND bit-identical in any engine with
# 64-bit integers — which is what makes the DuckDB oracle possible.
_P31 = (1 << 31) - 1
# polynomial base for combining band rows into a bucket key (portable flavor)
_BUCKET_BASE = 1_000_003


def _perm_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs in [1, 2^31-1) for h_i = (a*h+b) mod P."""
    out = []
    for i in range(k):
        a = (0x9E3779B9 * (i + 1) + 0x85EBCA6B) % _P31 or 1
        b = (0xC2B2AE3D * (i + 1) + 0x27D4EB2F) % _P31
        out.append((a, b))
    return out


def portable_hash60(col: Column) -> Column:
    """60-bit non-negative hash that DuckDB reproduces bit-for-bit:
    first 15 hex chars of md5 as a bigint. Oracle expression:
    ('0x' || substr(md5(x), 1, 15))::BIGINT. Slower than xxhash64 (md5 +
    string slice) — used only where cross-engine determinism is required."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash31(col: Column) -> Column:
    """portable_hash60 reduced into the P31 field (still DuckDB-matchable)."""
    return F.pmod(portable_hash60(col), F.lit(_P31))


def bucket_hash31(col: Column, hash_fn: str, salt: str | None = None) -> Column:
    """The one hash-flavor dispatch shared by sampling and packing: a 31-bit
    bucket hash of `col` (cast to string, optionally "|salt"-suffixed).
    'portable' is the md5-derived cross-engine flavor (DuckDB-matchable);
    'xxhash64' the cheaper production default. Anything else raises — a
    typo'd flavor silently changing membership/layout is undebuggable."""
    if hash_fn not in ("portable", "xxhash64"):
        raise ValueError(
            f"unknown hash_fn {hash_fn!r}: expected 'portable' or 'xxhash64'")
    keyed = col.cast("string")
    if salt is not None:
        keyed = F.concat(keyed, F.lit("|" + salt))
    if hash_fn == "portable":
        return portable_hash31(keyed)
    return F.pmod(F.xxhash64(keyed), F.lit(_P31))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     normalized: bool = True) -> DataFrame:
    """Groups of byte- (or normalized-) identical texts: (text_hash, n_docs)."""
    c = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    return (df.filter(F.col(text_col).isNotNull())
            .groupBy(F.md5(c).alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > 1))


def dedupe_exact(df: DataFrame, id_col: str, text_col: str = "text",
                 normalized: bool = True) -> DataFrame:
    """Keep one row (lowest id) per identical text; one shuffle on the hash."""
    c = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    w = Window.partitionBy(F.md5(c)).orderBy(F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


# ---------------------------------------------------------------------------
# shingles + minhash + LSH
# ---------------------------------------------------------------------------

def shingles(col: Column, n: int = 5, max_shingles: int = 512) -> Column:
    """Distinct character n-grams of the normalized text, capped per doc so a
    pathological 100MB doc can't blow an executor (cap is a documented recall
    trade-off; raise at will).

    Extraction is ONE regex scan with a lookahead capture — `(?=(.{n}))`
    matches at every position and captures the n chars ahead, yielding all
    overlapping grams in order in O(len). The previous transform(sequence)+
    substr formulation was O(len^2): substr-by-index on UTF8 re-scans from
    the start every call (measured 5.4x slower on the sf0.1 corpus at
    n=5/max_shingles=4096). Output is bit-identical (verified corpus-wide),
    so the DuckDB oracles — which replay shingling with substr list
    comprehensions — are unaffected. The normalized text is length-capped
    as a second executor guard."""
    norm = F.substring(normalize_text(col), 1, max(4096, max_shingles * 8))
    grams = F.slice(F.regexp_extract_all(norm, F.lit(f"(?=(.{{{n}}}))"), 1),
                    1, max_shingles * 4)
    return F.slice(F.array_distinct(grams), 1, max_shingles)


def _shingle_hash(s: Column, hash_fn: str) -> Column:
    """The per-shingle hash `h` both signature builders share. NULL-safe in
    both flavors: portable propagates NULL through md5/pmod naturally, and
    the xxhash64 flavor is explicitly gated because Spark's xxhash64 SKIPS
    null inputs (hashing only the seed) — unguarded, every shingle-less doc
    would share one non-null hash and "near-dup" every other at est 1.0."""
    if hash_fn == "portable":
        return portable_hash31(s)
    return F.when(s.isNotNull(), F.xxhash64(s))


def _minhash_aggs(hash_fn: str, k: int) -> list[Column]:
    """The k permutation min-aggregates over the hashed-shingle column `h`,
    aliased mh_0..mh_{k-1}. SINGLE SOURCE for the permutation family:
    incremental_flags_sig bands batch signatures (minhash_signatures)
    against store signatures (signature_store) — any drift between the two
    builders would make LSH buckets silently stop colliding, so both MUST
    build their aggregates here. An all-NULL group (shingle-less doc kept
    by explode_outer) yields NULL mh_* — min ignores NULLs."""
    if hash_fn == "portable":
        return [
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_P31)))
            .alias(f"mh_{i}")
            for i, (a, b) in enumerate(_perm_constants(k))
        ]
    return [F.min(F.when(F.col("h").isNotNull(),
                         F.xxhash64(F.col("h"), F.lit(i))))
            .alias(f"mh_{i}")
            for i in range(k)]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str = "text",
                       n: int = 5, k: int = 32, max_shingles: int = 512,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """k-wide minhash signature per doc as columns mh_0..mh_{k-1}.

    Shape matters at scale: shingles are EXPLODED to one row per (doc,
    shingle-hash) and the k permutations are k `min` aggregates in ONE
    groupBy. Catalyst's partial (map-side) aggregation collapses each doc to
    a single row before the shuffle (a doc's shingles are co-partitioned by
    construction), and the per-shingle work runs once — unlike nested
    higher-order functions, which are CodegenFallback and would re-evaluate
    the shingle array for every one of the k permutations.

    hash_fn:
      'xxhash64'  (default, fast): permutation i = xxhash64(shingle_hash, i).
                  Hash-remix is as uniform as an affine permutation for
                  MinHash and has no multiply, hence no overflow under ANSI.
      'portable'  (oracle-checkable): md5-derived 31-bit shingle hash +
                  affine permutations mod 2^31-1; every intermediate stays
                  < 2^62, ANSI-exact, and DuckDB reproduces it bit-for-bit."""
    sh = df.select(F.col(id_col).alias("doc"),
                   F.explode(shingles(F.col(text_col), n, max_shingles)).alias("s"))
    h = sh.select("doc", _shingle_hash(F.col("s"), hash_fn).alias("h"))
    return h.groupBy("doc").agg(*_minhash_aggs(hash_fn, k))


def _portable_bucket(cols: list[Column]) -> Column:
    """Polynomial fold of band columns into a bucket key, mod 2^31-1.
    Every step: acc*1e6-ish + mh < 2^51 + 2^31 — ANSI-safe, DuckDB-matchable."""
    acc = F.lit(0).cast("long")
    for c in cols:
        acc = F.pmod(acc * F.lit(_BUCKET_BASE) + c, F.lit(_P31))
    return acc


def band_buckets(sig: DataFrame, k: int = 32, bands: int = 8,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Fold a minhash signature frame (doc, mh_0..mh_{k-1}) into LSH band
    buckets: one row per (doc, band, bucket). Shared by the whole-corpus
    pair generator below and the incremental batch-vs-corpus join — both
    sides of an incremental run MUST band with the same k/bands/hash_fn or
    buckets never collide."""
    r = k // bands
    if hash_fn == "portable":
        band_structs = [
            F.struct(F.lit(b).cast("int").alias("band"),
                     _portable_bucket([F.col(f"mh_{b * r + j}") for j in range(r)])
                     .alias("bucket"))
            for b in range(bands)
        ]
    else:
        band_structs = [
            F.struct(F.lit(b).cast("int").alias("band"),
                     F.xxhash64(F.struct(*[F.col(f"mh_{b * r + j}") for j in range(r)]))
                     .alias("bucket"))
            for b in range(bands)
        ]
    return (sig.select("doc", F.explode(F.array(*band_structs)).alias("bk"))
            .select("doc", F.col("bk.band").alias("band"),
                    F.col("bk.bucket").alias("bucket")))


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        n: int = 5, k: int = 32, bands: int = 8,
                        max_bucket: int = 64, max_shingles: int = 512,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join on
    (band_id, band_hash), emit ordered pairs within buckets.

    max_bucket drops degenerate buckets (e.g. thousands of empty docs) —
    a skew guard: a bucket of B docs yields B^2 pairs, so a single hot
    bucket of 100k identical boilerplate docs would otherwise emit 10^10
    pairs. Dropped buckets are exact-dup territory anyway (handled by
    exact_dup_groups)."""
    sig = minhash_signatures(df, id_col, text_col, n, k, max_shingles, hash_fn)
    return pairs_from_signatures(sig, k, bands, max_bucket, hash_fn)


def pairs_from_signatures(sig: DataFrame, k: int = 32, bands: int = 8,
                          max_bucket: int = 64,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """LSH candidate pairs from an existing signature frame (doc,
    mh_0..mh_{k-1}): band, bucket-group with the max_bucket skew cap, emit
    ordered (a < b) pairs. The shared tail of lsh_candidate_pairs and the
    signature-store flows (streaming ingestion keeps signatures, not
    text, so its within-batch pairs start here)."""
    banded = band_buckets(sig, k, bands, hash_fn)
    grouped = (banded.groupBy("band", "bucket")
               .agg(F.collect_list("doc").alias("docs"))
               .filter((F.size("docs") > 1) & (F.size("docs") <= max_bucket)))
    return (grouped.select(F.explode(_ordered_pairs(F.col("docs"))).alias("p"))
            .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .distinct())


def _ordered_pairs(docs: Column) -> Column:
    """All (a<b) pairs within a bucket as array<struct<a,b>> — flatMap via
    nested transform, no Python."""
    srt = F.array_sort(docs)
    idx = F.sequence(F.lit(1), F.size(srt))
    return F.flatten(F.transform(
        idx,
        lambda i: F.transform(
            F.slice(srt, i + 1, F.greatest(F.lit(0), F.size(srt) - i)),
            lambda other: F.struct(F.element_at(srt, i).alias("a"), other.alias("b")),
        ),
    ))


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str,
                  text_col: str = "text", n: int = 5,
                  threshold: float = 0.8, max_shingles: int = 512) -> DataFrame:
    """Exact Jaccard verification of candidate pairs: two hash joins back to
    the shingle sets, then array_intersect/array_union per pair.

    Shingles are recomputed ONLY for docs that appear in a candidate pair
    (semi-join restriction before the shingle projection): candidates are
    typically orders of magnitude fewer than the corpus, and projections
    feeding a join run on every probe row — without the restriction both
    join sides would re-shingle the full corpus."""
    # no .distinct() on the id union: a left-semi join ignores right-side
    # duplicates, so the distinct was one pure-overhead Exchange (guide §2.4)
    ids = (pairs.select(F.col("doc_a").alias("__id"))
           .unionByName(pairs.select(F.col("doc_b").alias("__id"))))
    sh = (df.select(F.col(id_col).alias("__id"), F.col(text_col))
          .join(ids, "__id", "semi")
          .select("__id", shingles(F.col(text_col), n, max_shingles).alias("__sh")))
    a = sh.select(F.col("__id").alias("doc_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("doc_b"), F.col("__sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    jac = (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
           / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)))
    return (joined.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


#: Pair-count bound under which connected components resolve DRIVER-SIDE
#: (one bounded collect + union-find) instead of iteratively on the cluster.
#: Near-dup pair sets are LSH-collision-sized — orders of magnitude smaller
#: than the corpus — so even at the 100 TB shape they are usually a few
#: hundred MB of ids; 2M pairs collect to ~100-200 MB on the driver (well
#: under driver.maxResultSize). Past the bound the distributed algorithms
#: take over unchanged. Rationale (guide §1.2/§5): each distributed round
#: is 2-4 Spark jobs of fixed scheduler latency, and the label/star loops
#: need several rounds plus one extra to detect the fixed point — a bounded
#: driver-side aggregate (like the centroid draws and strata counts
#: elsewhere) replaces ~10-30 jobs with one.
CC_DRIVER_BOUND = 2_000_000


def _driver_components(pairs: DataFrame, a_col: str, b_col: str,
                       bound: int) -> DataFrame | None:
    """Bounded driver-side union-find: None when the pair set exceeds
    `bound` (caller falls back to the distributed algorithm). Labels every
    node with the minimum id reachable from it — identical output contract
    to the label/star variants (ids compare in Spark's binary string order;
    ASCII ids and numeric ids order identically in Python)."""
    rows = pairs.select(a_col, b_col).limit(bound + 1).collect()
    if len(rows) > bound:
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    out = [(n, comp_min[find(n)]) for n in parent]
    spark = pairs.sparkSession
    from pyspark.sql import types as T

    id_type = pairs.schema[a_col].dataType
    schema = T.StructType([T.StructField("doc", id_type),
                           T.StructField("component", id_type)])
    return spark.createDataFrame(out, schema)


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 50,
                         algorithm: str = "auto",
                         driver_bound: int = CC_DRIVER_BOUND) -> DataFrame:
    """Transitive near-dup grouping: label every vertex of the pair graph
    with the minimum id reachable from it. Returns (doc, component).

    algorithm='auto' (default): pair sets within `driver_bound` rows are
    collected once and solved with union-find on the driver (pair graphs
    are LSH-collision-sized, not corpus-sized — a bounded driver aggregate
    like the centroid/strata collects elsewhere), replacing the 10-30
    fixed-latency jobs of the iterative variants with one; larger graphs
    fall through to 'star' (O(log n) rounds) automatically.

    algorithm='label' (oracle-checked): min-label propagation,
    driver-coordinated — each round is one join + partial-aggregated groupBy
    over the PAIR set (which is orders of magnitude smaller than the corpus
    — only docs that collided in LSH), converging in O(component diameter)
    rounds; near-dup clusters are shallow in practice (boilerplate
    families), so this terminates in a handful of rounds.

    algorithm='star': the large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
    rounds on adversarially long chains; see connected_components_star.

    Both variants piggyback their convergence check on the SAME job that
    materializes the round (df.observe + localCheckpoint) instead of firing
    a separate per-round count action, so a k-round run launches k jobs,
    not 2k. localCheckpoint truncates the growing lineage so round N
    doesn't replay rounds 1..N-1. Either variant raises RuntimeError when
    max_iter rounds pass without reaching its fixed point."""
    if algorithm == "auto":
        fast = _driver_components(pairs, a_col, b_col, driver_bound)
        if fast is not None:
            return fast
        return connected_components_star(pairs, a_col, b_col, max_iter)
    if algorithm == "star":
        return connected_components_star(pairs, a_col, b_col, max_iter)
    from pyspark.sql import Observation

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))) \
        .distinct().localCheckpoint()
    labels = edges.select(F.col("src").alias("node")).distinct() \
        .withColumn("lbl", F.col("node"))
    for i in range(max_iter):
        nbr = (edges.join(labels, edges["src"] == labels["node"])
               .select(F.col("dst").alias("node"), F.col("lbl")))
        # EXACT convergence: the round's own label row is tagged (is_old) so
        # the same groupBy that computes the new min-label also recovers the
        # previous one (each node contributes exactly one old row), and the
        # observed metric is the count of nodes whose label actually changed
        # this round — zero changes IS a fixed point, no hash-collision
        # caveat (ADVICE r3: a sum-of-hash checksum could cancel). The count
        # still rides the localCheckpoint materialization job via observe,
        # so a k-round run stays k jobs.
        obs = Observation(f"cc_label_{i}")
        merged = (nbr.withColumn("is_old", F.lit(False))
                  .unionByName(labels.select("node", "lbl")
                               .withColumn("is_old", F.lit(True))))
        labels = (merged.groupBy("node")
                  .agg(F.min("lbl").alias("lbl"),
                       F.max(F.when(F.col("is_old"), F.col("lbl"))).alias("_prev"))
                  .observe(obs, F.count_if(F.col("lbl") != F.col("_prev")).alias("changed"))
                  .drop("_prev")
                  .localCheckpoint())
        if obs.get["changed"] == 0:
            break
    else:
        raise RuntimeError(f"label propagation did not converge in max_iter={max_iter} rounds")
    return labels.select(F.col("node").alias("doc"), F.col("lbl").alias("component"))


def connected_components_star(pairs: DataFrame, a_col: str = "doc_a",
                              b_col: str = "doc_b",
                              max_iter: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., SoCC'14):
    alternating rounds rewire every node toward its neighborhood minimum —
    large-star hangs each node's strictly-larger neighbors under the local
    minimum, small-star re-parents the smaller-or-equal ones — and the edge
    set converges to a star forest (node -> component min) in O(log n)
    rounds even on a chain, where plain label propagation needs O(n).

    Each round is two groupBy(min)+join passes over the EDGE set only;
    convergence is detected from an order-independent checksum
    (count + two independently-seeded sum(xxhash64) digests) observed on
    the same job that materializes the round's edges — no extra per-round
    action. The edge set only shrinks/rewires toward minima (monotone), so
    an unchanged checksum across a full round indicates a fixed point with
    overwhelming probability (a premature stop needs changed edges whose
    hash-delta sums cancel under BOTH seeds at equal count, ~2^-62 per
    round — not a proof; the label variant's change-count is exact).
    Raises RuntimeError when max_iter rounds end without an unchanged
    checksum."""
    from pyspark.sql import Observation

    # ids keep their native type (string doc ids order lexicographically,
    # exactly as the label variant's F.min does) — casting to long would
    # crash under ANSI on the engine's own 'doc-XXXXXXXX' id format.
    # The node set comes from the UNFILTERED pair frame: a doc appearing
    # only in self-pairs must still get its (doc, doc) output row, matching
    # algorithm='label' drop-in (ADVICE r3)
    raw = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    nodes = (raw.select(F.col("u").alias("node"))
             .unionByName(raw.select(F.col("v").alias("node")))
             .distinct().localCheckpoint())
    edges = (raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint())

    prev = None
    for i in range(max_iter):
        # large-star: per node u over the UNDIRECTED neighborhood,
        # m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u
        und = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (und.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", F.col("u")).alias("m")))
        edges = (und.filter(F.col("v") > F.col("u"))
                 .join(mins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct().localCheckpoint())
        # small-star: orient each edge large->small; per node a,
        # m = min(smaller-neighbors ∪ {a}); re-parent those neighbors and a
        oriented = edges.select(F.greatest("u", "v").alias("a"),
                                F.least("u", "v").alias("b"))
        minsS = (oriented.groupBy("a").agg(F.min("b").alias("m")))
        obs = Observation(f"cc_star_{i}")
        edges = (oriented.join(minsS, "a")
                 .select(F.col("b").alias("u"), F.col("m").alias("v"))
                 .unionByName(minsS.select(F.col("a").alias("u"),
                                           F.col("m").alias("v")))
                 .filter(F.col("u") != F.col("v")).distinct()
                 .observe(obs,
                          F.count(F.lit(1)).alias("n"),
                          # mod-reduced terms keep the sums ANSI-overflow-free;
                          # two independent seeds shrink the cancelling-delta
                          # window to ~2^-62 per round
                          F.sum(F.pmod(F.xxhash64("u", "v"),
                                       F.lit((1 << 31) - 1))).alias("h"),
                          F.sum(F.pmod(F.xxhash64(F.lit("s2"), "u", "v"),
                                       F.lit((1 << 31) - 1))).alias("h2"))
                 .localCheckpoint())
        cur = (obs.get["n"], obs.get["h"], obs.get["h2"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"large-star/small-star did not converge in max_iter={max_iter} rounds")
    # final edges point node -> component min; roots have no outgoing edge
    return (nodes.join(edges.withColumnRenamed("u", "node"), "node", "left")
            .select(F.col("node").alias("doc"),
                    F.coalesce(F.col("v"), F.col("node")).alias("component")))


def near_dup_losers(dups: DataFrame, id_col: str = "doc_id",
                    transitive: bool = True,
                    algorithm: str = "auto") -> DataFrame:
    """Doc ids to DROP given a verified near-dup pair frame (doc_a, doc_b):
    transitive=True groups pairs into connected components ('auto' by
    default — bounded driver-side union-find, star fallback on graphs past
    the bound) and keeps each component's minimum
    id; transitive=False is per-pair pruning (drop the greater id of every
    verified pair — cheaper, no iterative rounds, but splits A~B~C when
    A!~C). The ONE place this policy lives — minhash_dedupe and
    pipeline.curate both derive their survivor sets from it."""
    if transitive:
        comp = connected_components(dups, algorithm=algorithm)
        return comp.filter(F.col("doc") != F.col("component")) \
            .select(F.col("doc").alias(id_col))
    return dups.select(F.greatest("doc_a", "doc_b").alias(id_col)).distinct()



def near_dup_losers_by(dups: DataFrame, scores: DataFrame,
                       id_col: str = "doc_id", score_col: str = "score",
                       transitive: bool = True,
                       algorithm: str = "auto") -> DataFrame:
    """near_dup_losers with a QUALITY-AWARE keeper: each duplicate group
    keeps its BEST-scoring member (ties -> smallest id) instead of the
    smallest id — the policy a curation pipeline actually wants (keep the
    longest/cleanest copy of a boilerplate family, not the accidental
    id-minimum). `scores`: one row per doc (id_col, score_col) — any
    per-doc signal (text.quality_features' q_score, lm_score's neg-ppl,
    token counts). Docs MISSING from `scores` rank below every scored doc
    (score -inf), so a partially-scored corpus still resolves
    deterministically. transitive=False prunes per verified pair: drop
    the lower-scoring side (ties -> greater id).

    Scale shape: identical to near_dup_losers (components over collision
    pairs only) plus ONE extra join of the pair-sized node set against the
    scores frame — broadcast-sized when the dup groups are, and never a
    corpus shuffle (the join's left side is the component frame, not the
    corpus)."""
    sc = scores.select(F.col(id_col).alias("doc"),
                       F.col(score_col).cast("double").alias("_s"))
    if transitive:
        comp = connected_components(dups, algorithm=algorithm)
        j = (comp.join(sc, "doc", "left")
             .withColumn("_s", F.coalesce("_s", F.lit(float("-inf")))))
        # keeper = min(struct(-score, doc)): highest score, then lowest id
        keep = (j.groupBy("component")
                .agg(F.min(F.struct((-F.col("_s")).alias("k1"),
                                    F.col("doc").alias("k2"))).alias("kp")))
        return (j.join(keep, "component")
                .filter(F.col("doc") != F.col("kp.k2"))
                .select(F.col("doc").alias(id_col)))
    a = sc.select(F.col("doc").alias("doc_a"), F.col("_s").alias("_sa"))
    b = sc.select(F.col("doc").alias("doc_b"), F.col("_s").alias("_sb"))
    scored = (dups.join(a, "doc_a", "left").join(b, "doc_b", "left")
              .withColumn("_sa", F.coalesce("_sa", F.lit(float("-inf"))))
              .withColumn("_sb", F.coalesce("_sb", F.lit(float("-inf")))))
    loser = (F.when(F.col("_sa") > F.col("_sb"), F.col("doc_b"))
             .when(F.col("_sb") > F.col("_sa"), F.col("doc_a"))
             .otherwise(F.greatest("doc_a", "doc_b")))
    return scored.select(loser.alias(id_col)).distinct()


def minhash_dedupe(df: DataFrame, id_col: str, text_col: str = "text",
                   threshold: float = 0.8, transitive: bool = True,
                   **kw) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates -> exact Jaccard ->
    transitive connected components -> keep each component's minimum id.
    transitive=False falls back to per-pair pruning (drop the greater id of
    every verified pair — cheaper, but splits A~B~C when A!~C).

    The shingle parameters (n, max_shingles) reach BOTH stages: candidate
    generation and the exact-Jaccard verifier must shingle identically or
    the verification measures a different similarity than the one LSH
    bucketed on."""
    pairs = lsh_candidate_pairs(df, id_col, text_col, **kw)
    dups = ngram_jaccard(df, pairs, id_col, text_col,
                         n=kw.get("n", 5), threshold=threshold,
                         max_shingles=kw.get("max_shingles", 512))
    return df.join(near_dup_losers(dups, id_col, transitive), id_col,
                   "left_anti")


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def token_ngrams(col: Column, n: int = 5) -> Column:
    """Distinct space-joined token n-grams of a text column.

    Guarded for short docs: Spark's sequence(1, size-n+1) infers step -1
    when size < n (the winnow short-text hazard, text.py) — the CASE arm
    returns an empty array instead. One transform over one split: O(tokens)
    per row, no shuffle.
    """
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_text_col: str | None = None, n: int = 5,
                  min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination: per corpus doc, count distinct token
    n-grams that also appear in the benchmark/eval set, and flag docs with
    >= min_hits overlapping grams (the standard pre-training leakage gate;
    the reference's dataset-scope checks stop at referential integrity —
    this extends the family to eval-set leakage).

    Scale shape (100 TB corpus, small benchmark): the benchmark gram set is
    built once and BROADCAST (eval sets are thousands of docs — millions of
    grams at most); the corpus side is explode -> broadcast-hash left join
    -> one partial-aggregated groupBy on the doc id. No corpus-side shuffle
    except that final count; zero-gram docs survive via explode_outer.
    """
    bcol = bench_text_col or text_col
    bench_grams = (benchmark
                   .select(F.explode(token_ngrams(F.col(bcol), n)).alias("gram"))
                   .distinct()
                   .withColumn("hit", F.lit(1)))
    # materialize the gram array ONCE per row: size() and explode_outer()
    # reference the same attribute across the Generate boundary, which
    # Catalyst will not re-inline (CollapseProject stops at Generate) —
    # referencing token_ngrams twice would run the dominant tokenize+gram
    # map twice per corpus row
    exploded = (corpus
                .select(F.col(id_col),
                        token_ngrams(F.col(text_col), n).alias("_grams"))
                .select(F.col(id_col),
                        F.size("_grams").alias("total_grams"),
                        F.explode_outer("_grams").alias("gram")))
    return (exploded
            .join(F.broadcast(bench_grams), "gram", "left")
            .groupBy(id_col, "total_grams")
            .agg(F.count("hit").alias("matched_grams"))
            .withColumn("contaminated", F.col("matched_grams") >= min_hits))


def contaminated_ids(corpus: DataFrame, benchmark: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     bench_text_col: str | None = None, n: int = 5,
                     min_hits: int = 1) -> DataFrame:
    """Ids of corpus docs sharing >= min_hits token n-grams with the
    benchmark — the filter form of `decontaminate` for pipelines that drop
    leaked docs rather than report on every doc. The broadcast join is
    INNER, so only hit rows reach the aggregate: at real contamination
    rates (<<1% of a pre-training corpus) the result is tiny, which keeps
    the caller's anti-join right side small enough for AQE to broadcast.
    Per-doc grams are already distinct (token_ngrams), so count(*) counts
    distinct matched grams."""
    bcol = bench_text_col or text_col
    bench_grams = (benchmark
                   .select(F.explode(token_ngrams(F.col(bcol), n)).alias("gram"))
                   .distinct())
    hits = (corpus
            .select(F.col(id_col),
                    F.explode(token_ngrams(F.col(text_col), n)).alias("gram"))
            .join(F.broadcast(bench_grams), "gram"))
    if min_hits <= 1:
        return hits.select(id_col).distinct()
    return (hits.groupBy(id_col).agg(F.count("*").alias("matched_grams"))
            .filter(F.col("matched_grams") >= min_hits).select(id_col))


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str, text_col: str = "text",
                       bits: int | None = None,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash signature per doc: (doc, sim) where bit b of `sim` is the
    majority vote of bit b across the doc's token hashes.

    Same scale shape as minhash_signatures: explode(tokens) -> ONE groupBy
    with `bits` sum-aggregates (map-side combine collapses each doc before
    the shuffle; the token stream is materialized exactly once — the nested
    higher-order-function formulation re-evaluated it per bit, ~64x).

    hash_fn 'portable' uses the md5-derived 60-bit hash (bits<=60) so DuckDB
    reproduces the signature exactly; 'xxhash64' uses all 64 bits.
    Docs with zero tokens (or NULL text) produce no signature row — they are
    exact-dup territory, not simhash territory."""
    if bits is None:
        bits = 60 if hash_fn == "portable" else 64
    tok = df.select(F.col(id_col).alias("doc"),
                    F.explode(tokens(F.col(text_col))).alias("t"))
    hcol = (portable_hash60(F.col("t")) if hash_fn == "portable"
            else F.xxhash64(F.col("t")))
    h = tok.select("doc", hcol.alias("h"))
    # one sum aggregate per bit: vote_b = sum(2*bit_b(h) - 1)
    aggs = [
        F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"v{b}")
        for b in range(bits)
    ]
    per = h.groupBy("doc").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        # b==63 is the sign bit; adding -(2^63) assembles the two's-complement
        # pattern without overflow (positive partial sums are <= 2^63-1)
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(bit_val).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return per.select("doc", sig.alias("sim"))


def simhash64(col: Column) -> Column:
    """DEPRECATED single-Column SimHash (interpreted higher-order functions
    re-evaluate the token stream per bit — ~64x slower than
    simhash_signatures; kept for per-row/streaming use on small inputs)."""
    hashes = F.transform(tokens(col), lambda t: F.xxhash64(t))

    def _vote_fn(b: int):
        # NB: a default-arg lambda (lambda acc, h, _b=b) would break — pyspark
        # derives the lambda-variable count from the function arity
        return lambda acc, h: acc + F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) * 2 - 1

    out = F.lit(0).cast("long")
    for b in range(64):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _vote_fn(b))
        bit_val = (1 << b) if b < 63 else -(1 << 63)  # avoid signed overflow
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long")))
    return out


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str = "text",
                      max_hamming: int = 3, prefix_bits: int = 16,
                      max_bucket: int = 64,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: block on the signature's top prefix_bits,
    verify hamming distance with bit_count(a^b) inside each block.

    max_bucket caps degenerate blocks (same B^2 skew guard as
    lsh_candidate_pairs): one hot 16-bit block of boilerplate docs would
    otherwise explode quadratically in the self-join."""
    sig = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    total_bits = 60 if hash_fn == "portable" else 64
    blocked = sig.withColumn(
        "block", F.shiftrightunsigned("sim", total_bits - prefix_bits))
    grouped = (blocked.groupBy("block")
               .agg(F.collect_list(F.struct(F.col("doc"), F.col("sim"))).alias("ds"))
               .filter((F.size("ds") > 1) & (F.size("ds") <= max_bucket)))
    pairs = grouped.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p")) \
        .select(F.col("p.a.doc").alias("doc_a"), F.col("p.b.doc").alias("doc_b"),
                F.bit_count(F.col("p.a.sim").bitwiseXOR(F.col("p.b.sim"))).alias("hamming"))
    # each doc lands in exactly one block (block is a prefix of its own sim),
    # so pairs are already unique — no dedup shuffle needed
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# passage-level dedup (RefinedWeb / CCNet line dedup, token-window flavor)
# ---------------------------------------------------------------------------

def text_chunks(col: Column, chunk_tokens: int = 4,
                sep: str | None = None) -> Column:
    """Split text into passages: on `sep` when the corpus has natural
    paragraph breaks (e.g. r"\\n\\n"), else fixed non-overlapping
    chunk_tokens-token windows — the fallback for flat text. The final
    window may be shorter. Empty/whitespace-only text yields an empty
    array (guarded: sequence(1, 0) would infer step -1, the winnow
    short-text hazard, text.py:265)."""
    if sep is not None:
        return F.filter(F.split(col, sep), lambda p: p != "")
    toks = tokens(col)
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(chunk_tokens)),
        lambda i: F.array_join(F.slice(toks, i, chunk_tokens), " "))
    return F.when(F.size(toks) > 0, chunks).otherwise(
        F.array().cast("array<string>"))


def paragraph_dedupe(df: DataFrame, id_col: str, text_col: str = "text",
                     chunk_tokens: int = 4, sep: str | None = None,
                     min_dup: int = 2,
                     out_col: str = "text_dedup") -> DataFrame:
    """Corpus-level duplicated-passage removal — the passage flavor of
    RefinedWeb/CCNet line dedup (public: Penedo et al. 2023 §G, Wenzek et
    al. 2019 §4.1): a passage occurring >= min_dup times ACROSS the corpus
    (boilerplate, headers, license blurbs) is deleted from every document;
    survivors are reassembled in original order. Complements the whole-doc
    operators above: those drop documents, this repairs them. The reference
    scopes validation per-document (xema test suites are per-instance);
    this extends the family corpus-wide like decontaminate().

    Returns (id_col, n_chunks, n_removed, out_col). Documents that lost NO
    passage keep their ORIGINAL text verbatim — reassembly is lossy (token
    mode lowercases and collapses whitespace; sep mode normalizes the
    separator to a single space), so it is applied only to docs that were
    actually repaired (n_removed > 0). Docs losing every passage survive
    with out_col = ''.

    Scale shape (100 TB): chunking is one projection; passage frequency is
    ONE partial-aggregated groupBy on md5(passage) — fixed-width shuffle
    keys even for KB passages; the count rejoin is a shuffle join on the
    same key, and the hot boilerplate passages that motivate the operator
    are exactly AQE skew-join splits (the frequency side of a hot key is
    ONE row). Reassembly groups by doc id — each group is one document's
    own passages, bounded by the document itself; the final original-text
    join shuffles each doc's text ONCE on the id (cheaper than carrying
    the text on every exploded passage row through the reassembly).
    """
    ex = (df.select(F.col(id_col),
                    text_chunks(F.col(text_col), chunk_tokens, sep)
                    .alias("_chunks"))
          .select(id_col,
                  F.posexplode_outer("_chunks").alias("pos", "chunk"))
          .withColumn("h", F.md5("chunk")))
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("n_dup"))
    # null-chunk rows (empty docs) never match the join (null keys don't
    # equal) -> n_dup null -> drop null -> counted by neither branch below
    kept = (ex.join(freq, "h", "left")
            .withColumn("drop", F.col("n_dup") >= F.lit(min_dup)))
    agg = (kept.groupBy(id_col)
           .agg(F.count("chunk").alias("n_chunks"),
                F.sum(F.when(F.col("drop"), 1).otherwise(0))
                .alias("n_removed"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(~F.col("drop"),
                                   F.struct("pos", "chunk")))),
                        lambda s: s["chunk"]), " ").alias("_reassembled")))
    return (agg.join(df.select(F.col(id_col),
                               F.col(text_col).alias("_orig")), id_col)
            .select(id_col, "n_chunks", "n_removed",
                    F.when(F.col("n_removed") > 0, F.col("_reassembled"))
                    .otherwise(F.col("_orig")).alias(out_col)))


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs an existing corpus)
# ---------------------------------------------------------------------------

def incremental_flags(batch: DataFrame, corpus: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 5, k: int = 32, bands: int = 8,
                      threshold: float = 0.8, max_bucket: int = 64,
                      max_shingles: int = 512, hash_fn: str = "xxhash64",
                      corpus_signatures: DataFrame | None = None) -> DataFrame:
    """Continuous-ingestion dedup report: for every document of a NEW batch,
    flag whether it exactly duplicates or near-duplicates (MinHash-LSH +
    exact Jaccard) anything in the EXISTING corpus — without ever forming
    corpus-vs-corpus pairs. Extends the per-run dedup family above to the
    ingestion loop a production corpus actually runs (the reference
    validates one table at a time; incremental arrival is the 100 TB
    reality).

    Returns one row per batch doc: (id_col, exact_dup, near_dup,
    max_jaccard — null when no candidate verified). Doc ids must be unique
    across batch+corpus (an ingestion system's invariant).

    Scale shape (100 TB corpus, small batch): the corpus side is ONE
    signature pass — or ZERO with `corpus_signatures`, the persisted
    signature store an ingestion loop should maintain (signatures are
    per-doc, so the store appends each batch's signatures after the run).
    Corpus band buckets are grouped once with the same max_bucket skew cap
    as lsh_candidate_pairs (a hot boilerplate bucket of 100k docs would
    emit 100k candidates per batch doc landing in it); the batch side of
    the bucket join is tiny and broadcast. Exact dedup is an anti-join on
    fixed-width md5 keys. Jaccard verification re-shingles only candidate
    docs (semi-join restriction inside ngram_jaccard)."""
    bid = F.col(id_col)
    # -- exact: batch text-hash against the corpus text-hash set --
    c_hash = (corpus.filter(F.col(text_col).isNotNull())
              .select(F.md5(normalize_text(F.col(text_col))).alias("_h"))
              .distinct())
    b_hash = batch.select(bid.alias("_b"),
                          F.md5(normalize_text(F.col(text_col))).alias("_h"))
    exact = (b_hash.join(c_hash.withColumn("_e", F.lit(True)), "_h", "left")
             .select(F.col("_b"), F.coalesce("_e", F.lit(False)).alias("exact_dup")))

    # -- near: band both sides with identical parameters, join buckets --
    if corpus_signatures is None:
        corpus_signatures = minhash_signatures(
            corpus, id_col, text_col, n, k, max_shingles, hash_fn)
    c_banded = band_buckets(corpus_signatures, k, bands, hash_fn)
    c_grouped = (c_banded.groupBy("band", "bucket")
                 .agg(F.collect_list("doc").alias("cdocs"))
                 .filter(F.size("cdocs") <= max_bucket))
    b_sig = minhash_signatures(batch, id_col, text_col, n, k,
                               max_shingles, hash_fn)
    b_banded = band_buckets(b_sig, k, bands, hash_fn) \
        .withColumnRenamed("doc", "doc_a")
    cand = (c_grouped.join(F.broadcast(b_banded), ["band", "bucket"])
            .select("doc_a", F.explode("cdocs").alias("doc_b"))
            .distinct())
    union = (batch.select(F.col(id_col).alias("__u"), F.col(text_col))
             .unionByName(corpus.select(F.col(id_col).alias("__u"),
                                        F.col(text_col))))
    verified = ngram_jaccard(union.withColumnRenamed("__u", id_col), cand,
                             id_col, text_col, n, threshold, max_shingles)
    near = (verified.groupBy(F.col("doc_a").alias("_b"))
            .agg(F.max("jaccard").alias("max_jaccard"))
            .withColumn("near_dup", F.lit(True)))
    return (batch.select(bid)
            .join(exact, bid == F.col("_b"), "left").drop("_b")
            .join(near, bid == F.col("_b"), "left").drop("_b")
            .select(bid,
                    F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
                    F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
                    "max_jaccard"))


def incremental_dedupe(batch: DataFrame, corpus: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       threshold: float = 0.8, within_batch: bool = True,
                       transitive: bool = True,
                       corpus_signatures: DataFrame | None = None,
                       **kw) -> DataFrame:
    """Surviving batch rows after incremental dedup, equivalent to
    re-running dedupe_exact + minhash_dedupe over corpus+batch when corpus
    ids sort below batch ids (pinned by the equivalence tests, including a
    near-dup chain that CROSSES the corpus boundary), at the cost of one
    batch-sized pass instead of a corpus-sized one.

    Stages mirror the global rerun exactly:
    1. exact — batch docs whose normalized hash exists in the corpus drop
       (the corpus copy is the keeper), then within-batch exact dedupe
       keeps each hash group's minimum id.
    2. near — LSH pairs + Jaccard verification over the FULL exact-
       surviving batch (NOT pre-filtered by the vs-corpus flags: a chain
       X~corpus, Y~X, Y!~corpus needs X's batch-side edges to drag Y
       down, which is exactly what the global transitive rerun does).
       With transitive=True, a connected component containing ANY
       vs-corpus near-dup member drops ENTIRELY (its global component
       would contain a corpus doc, whose smaller id wins); clean
       components keep their minimum id. transitive=False matches the
       global per-pair mode: drop every flagged doc plus greatest(a,b)
       of each verified within-batch pair.

    Exact-dup-flagged docs are safely absent from stage 2: normalized-
    exact duplicates have identical shingle sets, so any batch doc that
    near-dups a dropped exact-dup near-dups its corpus copy too and is
    flagged directly. Equivalence caveat: the LSH bucket-size cap counts
    corpus members only on the corpus side here, but corpus+batch members
    in a true global rerun — a bucket within `max_bucket` of the cap may
    bind differently (candidate generation is probabilistic either way).
    """
    flags = incremental_flags(batch, corpus, id_col, text_col,
                              threshold=threshold,
                              corpus_signatures=corpus_signatures, **kw)
    if not within_batch:
        keep = (flags.filter(~F.col("exact_dup") & ~F.col("near_dup"))
                .select(id_col))
        return batch.join(keep, id_col, "semi")
    b1 = batch.join(flags.filter(F.col("exact_dup")).select(id_col),
                    id_col, "left_anti")
    b1 = dedupe_exact(b1, id_col, text_col)
    pairs = lsh_candidate_pairs(b1, id_col, text_col, **kw)
    dups = ngram_jaccard(b1, pairs, id_col, text_col,
                         n=kw.get("n", 5), threshold=threshold,
                         max_shingles=kw.get("max_shingles", 512))
    flagged = flags.filter(F.col("near_dup")).select(F.col(id_col).alias("_f"))
    if transitive:
        comp = connected_components(dups)
        # components with >= 1 vs-corpus near-dup member drop entirely;
        # both the infected set and the component frame are pair-sized
        # (only docs that collided in LSH), never batch-sized
        infected = (comp.join(flagged, comp["doc"] == F.col("_f"), "semi")
                    .select("component").distinct()
                    .withColumn("_i", F.lit(True)))
        losers = (comp.join(infected, "component", "left")
                  .filter(F.col("_i") | (F.col("doc") != F.col("component")))
                  .select(F.col("doc").alias(id_col)))
    else:
        losers = dups.select(F.greatest("doc_a", "doc_b").alias(id_col))
    losers = losers.unionByName(
        flagged.select(F.col("_f").alias(id_col))).distinct()
    return b1.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# signature store (text-free ingestion dedup state)
# ---------------------------------------------------------------------------

def signature_store(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 5, k: int = 32,
                    max_shingles: int = 512,
                    hash_fn: str = "xxhash64") -> DataFrame:
    """Per-doc dedup state an ingestion loop PERSISTS so future batches
    dedupe against signatures, never against corpus text: one row per doc
    with (doc, exact_h, mh_0..mh_{k-1}) — the normalized-text md5 (exact
    dedup key) and the k-wide minhash signature (near-dup key).

    Why a store: at corpus scale the text is the corpus (~100 TB at the
    north_rule shape); the store is ~(32 + 8k) bytes/doc — k=32 is ~300 GB
    per 10^12 docs, 300x smaller than re-reading text, and it is the ONLY
    corpus-side input incremental_flags_sig needs. incremental_flags'
    `corpus_signatures` fast path accepts the mh columns of this frame
    directly.

    One corpus scan: the exact hash rides the signature groupBy as a
    first() aggregate (it is functionally determined by doc — every
    exploded shingle row of a doc carries the same hash). Docs whose
    normalized text is too short to emit a single shingle still get a
    store row (explode_outer) with NULL mh_* — they participate in exact
    dedup but not LSH, exactly like the batch side (minhash_signatures
    drops them from banding), so signature-only and text-mode flags agree.
    Null-text docs carry exact_h NULL and match nothing (null keys never
    join)."""
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.md5(normalize_text(F.col(text_col))).alias("_eh"),
        F.explode_outer(shingles(F.col(text_col), n, max_shingles)).alias("s"))
    # signature expressions are SHARED with minhash_signatures (see
    # _minhash_aggs: any drift would break store-vs-batch LSH collisions)
    h = sh.select("doc", "_eh", _shingle_hash(F.col("s"), hash_fn).alias("h"))
    return h.groupBy("doc").agg(F.first("_eh").alias("exact_h"),
                                *_minhash_aggs(hash_fn, k))


def estimated_jaccard(left: DataFrame | str, right: DataFrame | str,
                      k: int = 32) -> Column:
    """MinHash-estimated Jaccard between two signature rows: the fraction
    of the k components that agree (the standard unbiased estimator —
    P[min-perm collision] = J). Resolution is 1/k; stderr ~= sqrt(J(1-J)/k)
    (~0.07 at J=0.8, k=32) — raise k on the store when the admission
    threshold needs tighter bands. Operands are the two frames (or their
    aliases) carrying mh_0..mh_{k-1}."""
    def _c(side, i):
        if isinstance(side, str):
            return F.col(f"{side}.mh_{i}")
        return side[f"mh_{i}"]
    hits = sum((_c(left, i) == _c(right, i)).cast("int") for i in range(k))
    return hits / F.lit(float(k))


def incremental_flags_sig(batch_store: DataFrame, store: DataFrame,
                          id_col: str = "doc_id", k: int = 32,
                          bands: int = 8, threshold: float = 0.8,
                          max_bucket: int = 64,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """incremental_flags when BOTH sides exist only as signature_store
    frames (doc, exact_h, mh_*): per batch doc, (id_col, exact_dup,
    near_dup, est_jaccard). No text is read on either side — the batch
    caller runs signature_store ONCE (its single text pass) and everything
    downstream, including this, is signature-space. Near-dup verification
    is the MinHash ESTIMATE (estimated_jaccard) instead of exact shingle
    Jaccard — the one semantic difference from incremental_flags
    (est_jaccard vs max_jaccard; same banding, same bucket cap, same
    threshold contract; the estimator's 1/k resolution means borderline
    pairs can flip relative to text-mode — the price of a text-free store,
    documented here and pinned by the tests).

    Scale shape: the store is scanned once. Its banding is a projection
    (band_buckets, no shuffle); the bucket-size cap is computed only for
    buckets the BATCH also hits (a broadcast semi-join prunes the store's
    banded stream before the aggregate — corpus-only buckets never reach
    the shuffle). Candidate pairs re-attach the k-wide signatures by doc
    id with the pair side broadcast, so the store is never shuffled.
    NULL-signature rows (shingle-less docs) are filtered out of banding on
    both sides — they cannot meaningfully near-dup (no shingles to
    estimate over) but DO participate in exact dedup through exact_h."""
    # -- exact: batch exact_h against the store's exact_h set --
    b_hash = batch_store.select(F.col("doc").alias("_b"),
                                F.col("exact_h").alias("_h"))
    c_hash = (store.filter(F.col("exact_h").isNotNull())
              .select(F.col("exact_h").alias("_h")).distinct()
              .withColumn("_e", F.lit(True)))
    exact = (b_hash.join(c_hash, "_h", "left")
             .select("_b", F.coalesce("_e", F.lit(False)).alias("exact_dup")))

    # -- near: band both sides, prune store to batch-hit buckets, cap, pair
    b_banded = band_buckets(batch_store.filter(F.col("mh_0").isNotNull()),
                            k, bands, hash_fn) \
        .withColumnRenamed("doc", "doc_a")
    c_banded = band_buckets(store.filter(F.col("mh_0").isNotNull()),
                            k, bands, hash_fn)
    hit = (c_banded.join(F.broadcast(b_banded.select("band", "bucket")
                                     .distinct()),
                         ["band", "bucket"], "semi"))
    sized = (hit.groupBy("band", "bucket")
             .agg(F.collect_list("doc").alias("cdocs"))
             .filter(F.size("cdocs") <= max_bucket))
    cand = (sized.join(F.broadcast(b_banded), ["band", "bucket"])
            .select("doc_a", F.explode("cdocs").alias("doc_b"))
            .distinct())
    # re-attach both signatures to candidate pairs; pairs are bucket-capped
    # and batch-bounded, hence broadcastable — the store side resolves as a
    # broadcast hash join, no store shuffle
    bj = cand.join(F.broadcast(batch_store.withColumnRenamed("doc", "doc_a"))
                   .alias("bs"), "doc_a")
    est = (F.broadcast(bj).join(store.alias("cs"),
                                F.col("doc_b") == F.col("cs.doc"))
           .select(F.col("doc_a"),
                   estimated_jaccard("bs", "cs", k).alias("_j")))
    near = (est.filter(F.col("_j") >= F.lit(threshold))
            .groupBy(F.col("doc_a").alias("_b"))
            .agg(F.max("_j").alias("est_jaccard"))
            .withColumn("_n", F.lit(True)))
    bid = F.col("doc")
    return (batch_store.select(bid)
            .join(exact, bid == F.col("_b"), "left").drop("_b")
            .join(near, bid == F.col("_b"), "left").drop("_b")
            .select(bid.alias(id_col),
                    F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
                    F.coalesce("_n", F.lit(False)).alias("near_dup"),
                    "est_jaccard"))


def ingest_batch_sig(batch: DataFrame, store: DataFrame | None,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 5, k: int = 32, bands: int = 8,
                     threshold: float = 0.8, max_bucket: int = 64,
                     max_shingles: int = 512, hash_fn: str = "xxhash64",
                     transitive: bool = True,
                     batch_signatures: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """One ingestion step against a persisted signature_store: returns
    (survivors, survivor_signatures) — the batch rows that should join the
    corpus, and exactly their signature_store rows to APPEND to the store
    so the next batch dedupes against them. store=None is the first batch
    ever (no vs-corpus stage). The streaming sink
    (streaming.ingest_dedup_stream) wraps this pure step with idempotent
    writes; it is equally callable from a scheduled batch loop.

    Semantics mirror incremental_dedupe stage-for-stage, but verification
    is signature-estimated on BOTH the vs-store and the within-batch side
    (one estimator, one threshold meaning — not exact-Jaccard within the
    batch and estimated against the store, which would make admission
    depend on which side of a batch boundary a near-dup pair straddles):

    1. exact — batch docs whose exact_h exists in the store drop; then
       within-batch exact keeps each exact_h group's minimum id.
    2. near — LSH pairs over the FULL exact-surviving batch signatures
       (pairs_from_signatures), estimated-Jaccard verified. With
       transitive=True a connected component containing ANY vs-store
       near-dup member drops entirely (its corpus-side neighbour is the
       keeper); clean components keep their minimum id.

    Scale shape: the batch text is scanned ONCE (signature_store — skipped
    entirely when the caller passes batch_signatures); every other input
    is signature-width. The store is scanned once per batch inside
    incremental_flags_sig and never shuffled (see its docstring); the
    within-batch stages are batch-sized."""
    bsig = batch_signatures if batch_signatures is not None else \
        signature_store(batch, id_col, text_col, n, k, max_shingles, hash_fn)
    if store is not None:
        flags = incremental_flags_sig(bsig, store, id_col, k, bands,
                                      threshold, max_bucket, hash_fn)
    else:
        flags = bsig.select(F.col("doc").alias(id_col),
                            F.lit(False).alias("exact_dup"),
                            F.lit(False).alias("near_dup"))
    # stage 1: drop store-exact dups, then within-batch exact (min id wins;
    # null exact_h = null-text docs form no group and all survive)
    s1 = bsig.join(flags.filter(F.col("exact_dup")).select(
        F.col(id_col).alias("doc")), "doc", "left_anti")
    w_exact_losers = (s1.filter(F.col("exact_h").isNotNull())
                      .groupBy("exact_h").agg(F.min("doc").alias("_keep"),
                                              F.collect_list("doc").alias("_g"))
                      .select(F.explode("_g").alias("doc"), "_keep")
                      .filter(F.col("doc") != F.col("_keep"))
                      .select("doc"))
    s2 = s1.join(w_exact_losers, "doc", "left_anti")
    # stage 2: within-batch near pairs, estimated verification. Shingle-
    # less docs (NULL mh_*) are excluded from banding — they cannot
    # near-dup (nothing to estimate over; xxhash64 banding would otherwise
    # funnel them all into one degenerate bucket) but they remain
    # survivors unless exact-dup'd above
    pairs = pairs_from_signatures(s2.filter(F.col("mh_0").isNotNull()),
                                  k, bands, max_bucket, hash_fn)
    verified = (pairs
                .join(F.broadcast(s2.withColumnRenamed("doc", "doc_a"))
                      .alias("la"), "doc_a")
                .join(F.broadcast(s2.withColumnRenamed("doc", "doc_b"))
                      .alias("lb"), "doc_b")
                .select("doc_a", "doc_b",
                        estimated_jaccard("la", "lb", k).alias("_j"))
                .filter(F.col("_j") >= F.lit(threshold))
                .select("doc_a", "doc_b"))
    flagged = flags.filter(F.col("near_dup")).select(
        F.col(id_col).alias("_f"))
    if transitive:
        comp = connected_components(verified)
        infected = (comp.join(flagged, comp["doc"] == F.col("_f"), "semi")
                    .select("component").distinct()
                    .withColumn("_i", F.lit(True)))
        losers = (comp.join(infected, "component", "left")
                  .filter(F.col("_i") | (F.col("doc") != F.col("component")))
                  .select("doc"))
    else:
        losers = verified.select(F.greatest("doc_a", "doc_b").alias("doc"))
    losers = losers.unionByName(
        flagged.select(F.col("_f").alias("doc"))).distinct()
    surv_sig = s2.join(losers, "doc", "left_anti")
    survivors = batch.join(
        surv_sig.select(F.col("doc").alias(id_col)), id_col, "semi")
    return survivors, surv_sig


def compact_signature_store(spark, store_dir: str, watermark: int) -> dict:
    """Rewrite every store partition with ingest_batch < `watermark` into a
    single partition, one row per doc — so a year of micro-batch ingestion
    (one small hive partition per batch, commit_ingest_batch) doesn't make
    every future batch list and footer-read tens of thousands of dead-small
    files. Returns {"compacted_partitions", "rows", "docs"}.

    Protocol (crash-safe, replay-idempotent):
    - The compacted partition is tagged `ingest_batch = -watermark`.
      Negative ids are invisible to commit_ingest_batch's replay probe
      (`== batch_id`, always positive) and always included by its prior
      read (`< batch_id`), so ingestion semantics are unchanged.
    - Write order: the compacted partition is written FIRST (direct-path
      overwrite — parquet job commit is atomic, a crashed write leaves the
      store intact); source partitions are deleted AFTER. A crash between
      the two leaves duplicate doc rows, which the flag computations
      tolerate (exact path is distinct-ed; near path max-aggregates), and
      a re-run with the same watermark reads its own previous output
      (-watermark < watermark), recomputes the identical bytes, and
      finishes the deletes — convergent, never a data-loss window.
    - One row per doc: min_by(ingest_batch) keeps the EARLIEST batch's row,
      matching the keeper-is-minimum convention everywhere else; crash-path
      duplicates are byte-identical so the choice is cosmetic there.

    Contract: `watermark` must be <= the oldest batch id that could still
    replay — under a checkpointed stream, the last committed batch id (a
    replayed batch probes `== batch_id` for its own rows; compacting them
    away would make the replay re-append). Batches >= watermark are left
    untouched. Successive compactions fold prior negative partitions in
    (-w_old < watermark) and delete them."""
    from xema_spark.runner import _read_written

    store = _read_written(spark, store_dir)
    if store is None:
        return {"compacted_partitions": 0, "rows": 0, "docs": 0}
    src = store.filter(F.col("ingest_batch") < watermark)
    data_cols = [c for c in store.columns if c != "ingest_batch"]
    compacted = (src.groupBy("doc")
                 .agg(F.min_by(F.struct(*data_cols), "ingest_batch")
                      .alias("__r"))
                 .select("__r.*"))
    n_docs = compacted.count()
    if n_docs == 0:
        return {"compacted_partitions": 0, "rows": 0, "docs": 0}
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(hconf)
    target = -watermark
    (compacted.write.mode("overwrite")
     .parquet(f"{store_dir}/ingest_batch={target}"))
    n_dropped = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("ingest_batch="):
            continue
        val = int(name.split("=", 1)[1])
        if val < watermark and val != target:
            fs.delete(st.getPath(), True)
            n_dropped += 1
    return {"compacted_partitions": n_dropped, "rows": n_docs,
            "docs": n_docs}


# ---------------------------------------------------------------------------
# exact-substring span removal (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr flavor: duplicated
# spans are cut out of the text, not whole documents dropped)
# ---------------------------------------------------------------------------

def dup_keeper_table(occurrences: DataFrame, doc_col: str,
                     hash_col: str, min_docs: int) -> DataFrame:
    """(hash, __keeper) table shared by the span-dedup family
    (`duplicate_spans`, `interleaved.dedup_text_spans`): distinct
    (hash, doc) — a map-side partial distinct — then ONE groupBy keeping
    hashes seen in >= min_docs DISTINCT docs, with the lowest doc id as the
    keeper. Defining the keeper semantics once means a change to the rule
    (counting, tie-break, hash width expectations) can't silently diverge
    between the char-level and span-level operators."""
    return (occurrences.select(hash_col, doc_col).distinct()
            .groupBy(hash_col)
            .agg(F.count(F.lit(1)).alias("__nd"),
                 F.min(doc_col).alias("__keeper"))
            .filter(F.col("__nd") >= min_docs)
            .select(hash_col, "__keeper"))


def duplicate_spans(df: DataFrame, id_col: str, text_col: str = "text",
                    k: int = 30, min_docs: int = 2, keep: str = "first",
                    hash_fn: str = "xxhash64",
                    max_chars: int = 32768) -> DataFrame:
    """Maximal duplicated char spans per document: every k-char gram of the
    RAW text (0-based positions, so spans index into the original string)
    that occurs in >= `min_docs` DISTINCT documents marks the interval
    [pos, pos+k-1]; overlapping/touching marked intervals merge into maximal
    islands. Returns (doc, start, end) — inclusive 0-based bounds.
    Only the first `max_chars` characters of each document are scanned:
    duplicated content past the cap is invisible to the operator — raise
    `max_chars` for long-document corpora (cost is the gram explode, O(len)
    rows per doc).

    keep='first' exempts, per duplicated gram, every occurrence in the
    LOWEST doc id containing it (Lee et al. remove a shared substring from
    all but one copy — doc-granular here so island merging stays exact);
    keep='none' marks every occurrence. Distinct-docs (not total
    occurrences) is the duplication test on purpose: within-doc repetition
    is repetition_signals / paragraph_dedupe territory.

    Scale shape: grams are ONE O(len) lookahead-regex scan (DOTALL — raw
    text keeps its newlines) exploded to (doc, pos, hash) rows; the
    frequency table is a distinct-(hash, doc) partial agg then ONE groupBy;
    marking is an equi-join on the gram hash whose build side is one row
    per hash, so a boilerplate gram fans out to its positions and nothing
    else (AQE splits the hot hashes). Island merge is a per-doc window —
    partitions are document-sized. 60-bit portable hashing makes a false
    dup-mark ~2^-60 per gram pair; the 'portable' flavor lets DuckDB replay
    the operator bit-for-bit."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    raw = F.substring(F.col(text_col), 1, max_chars)
    grams = F.regexp_extract_all(raw, F.lit(f"(?s)(?=(.{{{k}}}))"), 1)
    g = (df.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col).alias("doc"),
                 F.posexplode(grams).alias("pos", "gram"))
         .select("doc", "pos",
                 (portable_hash60(F.col("gram")) if hash_fn == "portable"
                  else F.xxhash64(F.col("gram"))).alias("h")))
    marked = g.join(dup_keeper_table(g, "doc", "h", min_docs), "h")
    if keep == "first":
        marked = marked.filter(F.col("doc") != F.col("__keeper"))
    w = Window.partitionBy("doc").orderBy("pos")
    # equal-length intervals sorted by pos: a new island starts when this
    # gram no longer overlaps/touches the previous one's [pos, pos+k-1]
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + F.lit(k),
                 F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (marked
            .select("doc", "pos", F.sum(brk).over(run).alias("__isl"))
            .groupBy("doc", "__isl")
            .agg(F.min("pos").alias("start"),
                 (F.max("pos") + F.lit(k - 1)).alias("end"))
            .select("doc", "start", "end"))


def remove_duplicate_spans(df: DataFrame, id_col: str,
                           text_col: str = "text", k: int = 30,
                           min_docs: int = 2, keep: str = "first",
                           hash_fn: str = "xxhash64",
                           max_chars: int = 32768,
                           out_col: str | None = None) -> DataFrame:
    """Cut every duplicated span (see `duplicate_spans`) out of the text,
    keeping everything else byte-for-byte: the content-level complement of
    whole-doc dedup — boilerplate paragraphs vanish while each document's
    unique prose survives. Adds `n_dup_spans` and `dup_chars_removed`;
    the cleaned text replaces `text_col` unless `out_col` is given. Rows
    whose text is NULL / shorter than k / unmarked pass through unchanged.
    Span detection inherits `duplicate_spans`' `max_chars` scan cap:
    duplicated content past the first `max_chars` characters survives the
    splice untouched — raise the cap for long-document corpora.

    Scale shape: spans aggregate to ONE array row per affected doc
    (islands are disjoint, so the array is bounded by len/k), joined back
    on the id — docs without duplicated spans never leave the scan's
    partition shape. The splice is a single JVM-side F.aggregate fold over
    the sorted island array (substr concat of the gaps); no Python, no
    window over the corpus. Assumes unique doc ids (duplicated ids would
    merge their gram sets)."""
    spans = duplicate_spans(df, id_col, text_col, k=k, min_docs=min_docs,
                            keep=keep, hash_fn=hash_fn, max_chars=max_chars)
    per_doc = (spans.groupBy(F.col("doc").alias("__doc"))
               .agg(F.array_sort(
                   F.collect_list(F.struct("start", "end"))).alias("__spans")))
    txt = F.col(text_col)
    init = F.struct(F.lit("").alias("t"), F.lit(0).alias("c"))
    spliced = F.aggregate(
        F.col("__spans"), init,
        lambda acc, s: F.struct(
            F.concat(acc["t"],
                     txt.substr(acc["c"] + F.lit(1),
                                s["start"] - acc["c"])).alias("t"),
            (s["end"] + F.lit(1)).alias("c")),
        lambda acc: F.concat(acc["t"],
                             txt.substr(acc["c"] + F.lit(1),
                                        F.length(txt) - acc["c"])))
    cleaned = F.when(F.col("__spans").isNull(), txt).otherwise(spliced)
    out = (df.join(per_doc, F.col(id_col) == F.col("__doc"), "left")
           # explicit NULL guard: size(NULL) is -1 in non-ANSI sessions
           .withColumn("n_dup_spans",
                       F.when(F.col("__spans").isNull(), F.lit(0))
                       .otherwise(F.size("__spans")))
           .withColumn("dup_chars_removed",
                       F.coalesce(F.length(txt) - F.length(cleaned),
                                  F.lit(0))))
    return (out.withColumn(out_col or text_col, cleaned)
            .drop("__doc", "__spans"))
