"""Training-data pipeline operators: text analysis, dedup (exact / minhash-LSH
/ simhash / n-gram jaccard), similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xema_spark import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestText:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("a b  c",), ("", ), ("one",)], ["text"])
        got = [r[0] for r in df.select(text.token_count(F.col("text"))).collect()]
        assert got == [3, 0, 1]

    def test_quality(self, spark, docs):
        q = text.quality_features(docs)
        rows = q.select("q_score", "q_n_tokens", "q_alpha_ratio").collect()
        assert all(0.0 <= r["q_score"] <= 1.0 for r in rows)
        assert any(r["q_n_tokens"] > 0 for r in rows)

    def test_lang_id(self, spark):
        df = spark.createDataFrame([
            ("the cat sat on the mat and it was happy",),
            ("der hund ist nicht mit der katze auf dem sofa",),
            ("le chat est dans la maison avec les enfants",),
            ("xyzzy qwerty",),
        ], ["text"])
        df = df.withColumn("doc_id", F.monotonically_increasing_id())
        got = {r["doc_id"]: r["lang_pred"]
               for r in text.lang_id_table(df, "doc_id").collect()}
        assert [got[i] for i in sorted(got)] == ["en", "de", "fr", "und"]

    def test_fingerprint(self, spark):
        df = spark.createDataFrame([("Hello, World!",), ("hello world",), ("other",)], ["text"])
        fps = [r[0] for r in df.select(text.fingerprint_md5(F.col("text"))).collect()]
        assert fps[0] == fps[1] != fps[2]  # normalization-invariant

    def test_repetition_signals(self, spark):
        df = spark.createDataFrame([
            (1, "spam ham " * 10),          # one dominant 2-gram, dup 5-grams
            (2, "all distinct words here honestly truly unique tokens"),
            (3, "x"),                        # too short for any n-gram
        ], ["doc_id", "text"])
        r = {row["doc_id"]: row for row in
             text.repetition_signals(df, "doc_id").collect()}
        assert r[1]["top_ngram_frac"] > 0.4
        assert r[1]["dup_ngram_frac"] > 0.9        # every 5-gram repeats
        assert r[2]["dup_ngram_frac"] == 0.0
        assert r[3]["top_ngram_frac"] == 0.0 and r[3]["dup_ngram_frac"] == 0.0

    def test_lang_repetition_table_matches_composition(self, spark):
        """The fused single-pass operator must agree row-for-row with
        lang_id_table JOIN repetition_signals (curate's hot path relies on
        the equivalence)."""
        df = spark.createDataFrame([
            (1, "the cat sat on the mat and it was happy the cat sat"),
            (2, "der hund ist nicht mit der katze auf dem sofa"),
            (3, "spam ham " * 10),
            (4, "x"),
            (5, ""),
            (6, None),
        ], "doc_id int, text string")
        fused = {r["doc_id"]: (r["lang"], r["top_ngram_frac"],
                               r["dup_ngram_frac"])
                 for r in text.lang_repetition_table(df, "doc_id").collect()}
        lang = {r["doc_id"]: r["lang"]
                for r in text.lang_id_table(df, "doc_id",
                                            out_col="lang").collect()}
        rep = {r["doc_id"]: (r["top_ngram_frac"], r["dup_ngram_frac"])
               for r in text.repetition_signals(df, "doc_id").collect()}
        assert set(fused) == set(lang) == set(rep)
        for d in fused:
            assert fused[d] == (lang[d], *rep[d]), d

    def test_duplicate_ids_pool_into_one_row(self, spark):
        """Both entry points of the tagged n-gram core group by id (and the
        text length), so two equal-length rows sharing an id give ONE
        output row whose masses count both texts' grams (why curate
        requires unique ids)."""
        a, b = "a b c d e fox jumps over", "a b c d e cat naps under"
        df = spark.createDataFrame([(1, a), (1, b), (2, a)],
                                   "doc_id int, text string")
        for op in (text.repetition_signals, text.lang_repetition_table):
            r = {row["doc_id"]: row for row in op(df, "doc_id").collect()}
            assert sorted(r) == [1, 2], op.__name__
            # doc 2 alone: top 2-gram "jumps over" once, no repeated 5-gram
            assert r[2]["top_ngram_frac"] == round(10 / 24, 6)
            assert r[2]["dup_ngram_frac"] == 0.0
            # doc 1 pools both texts: "d e" and "a b c d e" occur twice
            assert r[1]["top_ngram_frac"] == round(2 * 3 / 24, 6)
            assert r[1]["dup_ngram_frac"] == round(2 * 9 / 24, 6)

    def test_pii_scrub(self, spark):
        df = spark.createDataFrame([
            (1, "mail me at bob@example.com or at 10.1.2.3 ssn 123-45-6789"),
            (2, "clean text with no identifiers at all"),
        ], ["doc_id", "text"])
        r = {row["doc_id"]: row for row in text.pii_scrub(df).collect()}
        assert r[1]["pii_email"] == 1 and r[1]["pii_ipv4"] == 1 \
            and r[1]["pii_ssn"] == 1 and r[1]["pii_total"] == 3
        assert "@" not in r[1]["text_redacted"]
        assert "123-45-6789" not in r[1]["text_redacted"]
        assert r[2]["pii_total"] == 0
        assert r[2]["text_redacted"] == r[2]["text"]


class TestCurate:
    def test_curate_composition(self, spark):
        from xema_spark import pipeline

        rows = [
            (1, "the cat sat on the mat and it was happy with the hat"),  # keep
            (2, "the cat sat on the mat and it was happy with the hat"),  # exact dup of 1
            (3, "the cat sat on the mat and it was happy with the hat zz"),  # near dup of 1
            (4, "der hund ist nicht mit der katze auf dem sofa heute"),  # wrong lang
            (5, "!!!! ???? ;;;; @@@@ #### $$$$ %%%% ^^^^ &&&& ****"),    # low alpha
            (6, "spam ham " * 30),                                        # repetitive
            (7, None),                                                    # fails rule
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = pipeline.curate(
            df,
            rule={"type": "object",
                  "properties": {"text": {"type": "string", "min_length": 10}},
                  "required": ["text"]},
            langs=("en",), min_alpha_ratio=0.5,
            max_top_ngram_frac=0.3, max_dup_ngram_frac=0.9,
            exact_dedupe=True, near_dup_threshold=0.6,
            scrub_pii=False)
        kept = sorted(r["doc_id"] for r in out.collect())
        assert kept == [1]  # 2 exact-dup, 3 near-dup, 4-7 filtered

    def test_curate_decontaminates_against_benchmark(self, spark):
        from xema_spark import pipeline

        df = spark.createDataFrame(
            [(1, "one two three four five six seven eight nine ten"),
             (2, "alpha beta gamma delta epsilon zeta eta theta iota")],
            ["doc_id", "text"])
        bench_set = spark.createDataFrame(
            [(9, "xx alpha beta gamma delta epsilon yy")], ["doc_id", "text"])
        out = pipeline.curate(df, near_dup_threshold=None,
                              benchmark=bench_set)
        assert sorted(r["doc_id"] for r in out.collect()) == [1]
        # benchmark=None keeps the stage out of the plan entirely
        out2 = pipeline.curate(df, near_dup_threshold=None)
        assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2]

    def test_curate_paragraph_dedup_repairs_text(self, spark):
        from xema_spark import pipeline

        # the shared 4-token boilerplate chunk is removed from BOTH docs;
        # the repaired texts then differ enough to both survive dedup
        df = spark.createDataFrame(
            [(1, "click here to subscribe alpha beta gamma delta"),
             (2, "click here to subscribe omega psi chi phi")],
            ["doc_id", "text"])
        out = pipeline.curate(df, near_dup_threshold=None,
                              paragraph_dedup=True)
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert got == {1: "alpha beta gamma delta", 2: "omega psi chi phi"}


class TestDedup:
    def test_exact(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello World"), (2, "hello, world"), (3, "unique text")],
            ["doc_id", "text"])
        groups = dedup.exact_dup_groups(df).collect()
        assert len(groups) == 1 and groups[0]["n_docs"] == 2
        kept = dedup.dedupe_exact(df, "doc_id")
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]

    def test_minhash_lsh_finds_near_dups(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")
        far = "completely different content about spark engines " * 8
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far), (4, base + " tail")],
            ["doc_id", "text"])
        pairs = dedup.lsh_candidate_pairs(df, "doc_id")
        got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        assert (1, 2) in got or (1, 4) in got
        verified = dedup.ngram_jaccard(df, pairs, "doc_id", threshold=0.5).collect()
        vp = {(r["doc_a"], r["doc_b"]) for r in verified}
        assert all(0.5 <= r["jaccard"] <= 1.0 for r in verified)
        assert (1, 3) not in vp and (2, 3) not in vp

    def test_minhash_dedupe(self, spark):
        base = "some long enough piece of text that repeats " * 10
        df = spark.createDataFrame(
            [(i, base) for i in range(1, 4)] + [(9, "a distinct document " * 10)],
            ["doc_id", "text"])
        kept = dedup.minhash_dedupe(df, "doc_id", threshold=0.9)
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert ids == [1, 9]

    def test_simhash(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta " * 6
        near = base.replace("zeta", "zetax", 1)  # one token occurrence differs
        far = "nothing in common with the others at all " * 6
        df = spark.createDataFrame([(1, base), (2, near), (3, far), (4, base)],
                                   ["doc_id", "text"])
        sigs = {r["doc"]: r["sim"]
                for r in dedup.simhash_signatures(df, "doc_id").collect()}
        ham = lambda a, b: bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        assert ham(1, 4) == 0                 # identical docs -> identical sigs
        assert ham(1, 2) < ham(1, 3)          # near-dup closer than unrelated
        assert ham(1, 2) <= 16
        pairs = dedup.simhash_near_dups(df, "doc_id", max_hamming=ham(1, 2))
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
        assert got.get((1, 4)) == 0
        assert (1, 3) not in got and (2, 3) not in got

    def test_lsh_on_real_docs(self, spark, docs):
        pairs = dedup.lsh_candidate_pairs(docs.withColumnRenamed("doc_id", "d"), "d")
        pairs.count()  # smoke: runs on the sf documents table


class TestSimilarity:
    def _queries(self, spark, emb):
        return (emb.limit(3)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("embedding").alias("q_vec")))

    def test_brute_force_self_top1(self, spark, emb):
        q = self._queries(spark, emb)
        top = similarity.brute_force_topk(emb, q, k=3)
        top1 = {r["q_id"]: r["vec_id"] for r in top.filter("rank=1").collect()}
        assert all(qid == vid for qid, vid in top1.items())  # self is nearest
        assert top.groupBy("q_id").count().filter("count != 3").count() == 0

    def test_lsh_topk_recall(self, spark, emb):
        dim = len(emb.head()["embedding"])
        q = self._queries(spark, emb)
        exact = similarity.brute_force_topk(emb, q, k=5)
        approx = similarity.lsh_topk(emb, q, dim=dim, k=5, n_planes=12, bands=6)
        e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
        a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.4, f"LSH recall too low: {recall}"
        # self-match must always survive (identical signatures collide)
        assert all((qid, qid) in a for qid in (0, 1, 2))

    def test_cosine_near_dups(self, spark, emb):
        dim = len(emb.head()["embedding"])
        twin = emb.limit(2).select((F.col("vec_id") + 100000).alias("vec_id"),
                                   "embedding", "label")
        both = emb.limit(50).unionByName(twin)
        pairs = similarity.cosine_near_dups(both, dim=dim, threshold=0.999)
        got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        assert (0, 100000) in got and (1, 100001) in got


class TestMultimodal:
    def test_decode_stub_deterministic(self, spark):
        df = spark.createDataFrame([("asset-1",), ("asset-2",)], ["media_ref"])
        with_payload = multimodal.synth_media_payloads(df)
        decoded = multimodal.decode_media(with_payload)
        rows = {r["media_ref"]: r["media_meta"] for r in decoded.collect()}
        again = {r["media_ref"]: r["media_meta"]
                 for r in multimodal.decode_media(with_payload).collect()}
        assert rows == again  # deterministic
        assert all(m["decoder"] == "stub" and m["width"] >= 64 for m in rows.values())

    def test_frame_sampling(self, spark):
        df = spark.createDataFrame([("vid-1",)], ["media_ref"])
        d = multimodal.decode_media(
            multimodal.synth_media_payloads(df).withColumn("media_type", F.lit("video")))
        out = multimodal.frame_sample_offsets(d, n_samples=4).head()
        offs = out["frame_offsets_ms"]
        assert len(offs) == 4 and offs == sorted(offs) and offs[0] == 0


def test_connected_components_transitive(spark):
    """A~B~C with A!~C must land in ONE component (the round-1 pair-pruning
    approximation split it); disjoint pairs stay separate."""
    from xema_spark import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"])
    comp = {r["doc"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20


def test_minhash_dedupe_transitive_keeps_one_per_cluster(spark):
    from xema_spark import dedup
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, " ".join(f"tok{i * 37 + j}word{j * 13 + i}" for j in range(15)))
         for i in range(20)], ["doc_id", "text"])
    # near-identical family 100,101,102 (chain)
    fam = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again"),
         (101, "the quick brown fox jumps over the lazy dog again and again!"),
         (102, "the quick brown fox jumps over the lazy dog again and again!!")],
        ["doc_id", "text"])
    df = base.unionByName(fam)
    out = dedup.minhash_dedupe(df, "doc_id", threshold=0.8, max_bucket=64)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 100 in kept and 101 not in kept and 102 not in kept
    assert set(range(20)) <= kept


def test_ivf_topk_contains_self_and_overlaps_exact(spark):
    """IVF self-query must rank itself #1 (its own cell is always probed);
    recall vs brute force is decent at n_probe=4/16 cells."""
    from pyspark.sql import functions as F

    from xema_spark import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    ivf = similarity.ivf_topk(emb, q, k=10, n_cells=16, n_probe=4)
    rows = ivf.collect()
    top1 = {r["q_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {i: i for i in range(5)}

    exact = similarity.brute_force_topk(emb, q, k=10)
    ex = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    iv = {(r["q_id"], r["vec_id"]) for r in rows}
    recall = len(ex & iv) / len(ex)
    assert recall >= 0.5, recall


def test_feature_extract_and_resize(spark):
    df = spark.createDataFrame([("asset-1",), ("asset-2",)], ["media_ref"])
    p = multimodal.synth_media_payloads(df)
    feats = {r["media_ref"]: r["features"]
             for r in multimodal.extract_features(p, dim=4).collect()}
    assert all(len(v) == 4 and all(0.0 <= x <= 1.0 for x in v) for v in feats.values())
    assert feats["asset-1"] != feats["asset-2"]  # payload-dependent
    again = {r["media_ref"]: r["features"]
             for r in multimodal.extract_features(p, dim=4).collect()}
    assert feats == again  # deterministic

    d = multimodal.decode_media(p)
    r = multimodal.resize_media(d, 224, 224).head()
    assert r["media_meta"]["width"] == 224 and r["media_meta"]["height"] == 224
    assert r["media_meta"]["decoder"].endswith("+resize-stub")


def test_winnow_fingerprints_local_edit_robust(spark):
    """A local edit perturbs only nearby fingerprints: edited docs share most
    minima with the original; unrelated docs share almost none."""
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the fence and the birds sing in the morning sun")
    edited = base.replace("birds", "crows")
    other = ("completely unrelated content about distributed query engines "
             "and columnar execution with vectorized operators everywhere")
    df = spark.createDataFrame([(1, base), (2, edited), (3, other)],
                               ["doc_id", "text"])
    fps = text.winnow_fingerprints(df, "doc_id", k=5, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc"], set()).add(r["fp"])
    j12 = len(by_doc[1] & by_doc[2]) / len(by_doc[1] | by_doc[2])
    j13 = len(by_doc[1] & by_doc[3]) / len(by_doc[1] | by_doc[3])
    assert j12 > 0.6, j12          # local edit: most fingerprints survive
    assert j13 < 0.1, j13          # unrelated: nearly disjoint
    # doc too short for a complete window -> no fingerprints
    tiny = spark.createDataFrame([(9, "ab")], ["doc_id", "text"])
    assert text.winnow_fingerprints(tiny, "doc_id").count() == 0


def test_winnow_short_doc_no_bogus_grams(spark):
    """sequence(1,0) yields [1,0] (step -1): a text shorter than k must
    produce ZERO fingerprints even at w<=2 where the size(g)>=w filter no
    longer masks the two bogus truncated grams."""
    tiny = spark.createDataFrame([(9, "ab"), (10, "abcd")], ["doc_id", "text"])
    assert text.winnow_fingerprints(tiny, "doc_id", k=5, w=2).count() == 0


def test_ivf_centroid_selection(spark):
    """Centroids are the n_cells smallest ids (orderBy+limit, not id<n):
    a corpus whose ids don't start at 0 still gets centroids; an empty
    corpus raises instead of silently returning nothing."""
    import pytest
    from pyspark.sql import functions as F

    from xema_spark import similarity

    emb = spark.range(100, 140).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 5).cast("double") + F.lit(0.2)
                  for i in range(4)]).alias("embedding"))
    q = emb.limit(2).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
    rows = similarity.ivf_topk(emb, q, k=3, n_cells=4, n_probe=2).collect()
    assert rows, "non-zero-based ids must still produce results"
    top1 = {r["q_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {100: 100, 101: 101}

    with pytest.raises(ValueError, match="centroid"):
        similarity.ivf_topk(emb.filter(F.col("vec_id") < 0), q, n_cells=4)


def test_star_cc_equivalent_to_union_find(spark):
    """large-star/small-star must produce the same (doc -> component-min)
    labeling as the driver-side union-find on random graphs, and converge
    in O(log n) rounds on a chain where label propagation needs
    O(diameter)."""
    import random

    from xema_spark import dedup

    rnd = random.Random(7)
    edges = {(rnd.randrange(60), rnd.randrange(60)) for _ in range(80)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    uf = {r["doc"]: r["component"]
          for r in dedup.connected_components(pairs).collect()}
    star = {r["doc"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()}
    assert uf == star

    # chain 0-1-2-...-63: diameter 63, star must finish in O(log n) rounds
    chain = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  ["doc_a", "doc_b"])
    comp = {r["doc"]: r["component"]
            for r in dedup.connected_components_star(chain, max_iter=12).collect()}
    assert set(comp) == set(range(64))
    assert set(comp.values()) == {0}


def test_star_cc_raises_when_not_converged(spark):
    """max_iter rounds without a fixed point is an error, not a labeling:
    a 4-node chain needs more than one large-star/small-star round (the
    first round changes the edge set, so its checksum cannot repeat)."""
    from xema_spark import dedup

    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        dedup.connected_components_star(chain, max_iter=1)


def test_cc_past_the_driver_bound_is_star(spark, monkeypatch):
    """connected_components reads CC_DRIVER_BOUND at call time: with the
    bound at 0 every pair set takes the distributed star path, and gives
    the same labeling as the driver-side union-find default."""
    import random

    from xema_spark import dedup

    rnd = random.Random(7)
    edges = {(rnd.randrange(60), rnd.randrange(60)) for _ in range(80)}
    pairs = spark.createDataFrame([(a, b) for a, b in edges if a != b],
                                  ["doc_a", "doc_b"])
    uf = {r["doc"]: r["component"]
          for r in dedup.connected_components(pairs).collect()}
    star_calls = []
    star = dedup.connected_components_star
    monkeypatch.setattr(dedup, "connected_components_star",
                        lambda *a: star_calls.append(a) or star(*a))
    monkeypatch.setattr(dedup, "CC_DRIVER_BOUND", 0)
    got = {r["doc"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert len(star_calls) == 1
    assert got == uf


def test_star_cc_self_loop_only_doc(spark):
    """A doc appearing ONLY in self-pairs must still get a (doc, doc)
    component row from BOTH algorithms — drop-in equivalence (ADVICE r3:
    star derived its node set after filtering u!=v, losing such docs)."""
    from xema_spark import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (3, 3), (2, 1), (4, 4), (4, 5)], ["doc_a", "doc_b"])
    want = {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}
    for cc in (dedup.connected_components, dedup.connected_components_star):
        got = {r["doc"]: r["component"] for r in cc(pairs).collect()}
        assert got == want, cc.__name__


def test_ivf_trained_centroids_improve_recall(spark):
    """Lloyd-refined centroids must (a) keep the same cid set, (b) be
    deterministic, and (c) not hurt recall vs seed centroids on the test
    embeddings."""
    from pyspark.sql import functions as F

    from xema_spark import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = similarity.train_ivf_centroids(emb, n_cells=8, iters=2)
    again = similarity.train_ivf_centroids(emb, n_cells=8, iters=2)
    assert cents == again                       # deterministic
    assert [c for c, _ in cents] == list(range(8))
    dim = len(cents[0][1])
    assert all(len(v) == dim for _, v in cents)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r["q_id"], r["vec_id"])
             for r in similarity.brute_force_topk(emb, q, k=10).collect()}

    def recall(centroids):
        got = {(r["q_id"], r["vec_id"]) for r in similarity.ivf_topk(
            emb, q, k=10, n_cells=8, n_probe=3, centroids=centroids).collect()}
        return len(exact & got) / len(exact)

    seed = [(int(r[0]), [float(x) for x in r[1]]) for r in
            emb.orderBy("vec_id").limit(8).collect()]
    assert recall(cents) >= recall(seed) - 0.05  # refined never much worse


def test_top_tokens_take_ordered(spark):
    """Vocabulary heavy-hitters: correct counts, deterministic tie-break,
    and a TakeOrderedAndProject plan (per-task heap, no global sort)."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [(1, "a b b c c c"), (2, "c a A  b")], ["doc_id", "text"])
    out = text.top_tokens(df, k=2).collect()
    assert [(r["token"], r["n"]) for r in out] == [("c", 4), ("a", 3)]

    buf = io.StringIO()
    with redirect_stdout(buf):
        text.top_tokens(df, k=2).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan


def test_star_cc_string_ids(spark):
    """connected_components_star must be a drop-in for string doc ids (the
    engine's own 'doc-XXXXXXXX' format) — no long cast, lexicographic
    minima, same labeling as the driver-side union-find."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")],
        ["doc_a", "doc_b"])
    star = {r["doc"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()}
    uf = {r["doc"]: r["component"]
          for r in dedup.connected_components(pairs).collect()}
    assert star == uf
    assert star["doc-a"] == star["doc-b"] == star["doc-c"] == "doc-a"
    assert star["x"] == star["y"] == "x"


def test_decontaminate_flags_overlap_and_keeps_zero_gram_docs(spark):
    """Benchmark decontamination: a corpus doc sharing a 5-token gram with
    the eval set is flagged; disjoint docs and sub-n-token docs survive
    unflagged (explode_outer keeps zero-gram docs, matched=0). The plan
    must broadcast the benchmark gram set."""
    bench_set = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta epsilon suffix"),  # leaked gram
         (2, "totally unrelated words about spark engines here"),
         (3, "too short")],                                    # < 5 tokens
        ["doc_id", "text"])
    out = dedup.decontaminate(corpus, bench_set, n=5, min_hits=1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["contaminated"] and rows[1]["matched_grams"] >= 1
    assert not rows[2]["contaminated"] and rows[2]["matched_grams"] == 0
    assert rows[3]["total_grams"] == 0 and rows[3]["matched_grams"] == 0
    assert not rows[3]["contaminated"]
    import io as _io
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_token_ngrams_short_doc_guard(spark):
    """size < n must yield [], not the descending-sequence artifact."""
    df = spark.createDataFrame([("a b c",), ("a b c d e",)], ["text"])
    got = df.select(dedup.token_ngrams(F.col("text"), n=5).alias("g")).collect()
    assert got[0]["g"] == []
    assert got[1]["g"] == ["a b c d e"]


def test_paragraph_dedupe_removes_corpus_duplicates(spark):
    # 'a b c d' appears in docs 1 and 2 (corpus freq 2) -> removed from
    # BOTH; every other chunk is unique and survives in original order
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"),
         (2, "a b c d x y z w"),
         (3, "p q r s"),
         (4, ""),
         (5, "solo")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.paragraph_dedupe(df, "doc_id", chunk_tokens=4).collect()}
    assert got[1]["text_dedup"] == "e f g h"
    assert got[2]["text_dedup"] == "x y z w"
    assert (got[1]["n_chunks"], got[1]["n_removed"]) == (2, 1)
    assert got[3]["text_dedup"] == "p q r s"
    assert got[3]["n_removed"] == 0
    # empty doc survives with no chunks; short doc keeps its partial chunk
    assert (got[4]["n_chunks"], got[4]["text_dedup"]) == (0, "")
    assert got[5]["text_dedup"] == "solo"
    assert len(got) == 5


def test_paragraph_dedupe_sep_mode_and_total_loss(spark):
    # sep mode splits on literal newlines; a doc made entirely of
    # duplicated paragraphs is kept with empty text
    df = spark.createDataFrame(
        [(1, "dup para\nunique one"),
         (2, "dup para"),
         (3, "dup para")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.paragraph_dedupe(df, "doc_id", sep="\n").collect()}
    assert got[1]["text_dedup"] == "unique one"
    assert got[2]["text_dedup"] == ""
    assert got[2]["n_removed"] == 1


def test_tfidf_top_terms_ranking_and_ties(spark):
    # 'rare' appears only in doc 1 -> highest idf beats the frequent 'the';
    # ties (same tf, same df) break on the token string ascending
    df = spark.createDataFrame(
        [(1, "rare the the the"),
         (2, "the the common words"),
         (3, "the common stuff here")],
        ["doc_id", "text"])
    out = text.tfidf_top_terms(df, "doc_id", k=2)
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    assert rows[(1, 1)]["token"] == "the"  # tf=3 outweighs idf here
    assert rows[(1, 2)]["token"] == "rare"
    assert rows[(1, 2)]["df_docs"] == 1
    # doc 3: common/here/stuff all tf=1; 'here'+'stuff' df=1 < 'common' df=2
    assert [rows[(3, r)]["token"] for r in (1, 2)] == ["here", "stuff"]
    # every doc emits exactly k rows when it has >= k distinct tokens
    assert out.groupBy("doc_id").count().filter("count != 2").count() == 0


def test_quantize_embeddings_roundtrip_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]), (3, [-0.25])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           similarity.quantize_embeddings(df).collect()}
    # scale = 2/127; q = round-half-up(x/scale): 1.0 -> 64 (63.5 rounds up)
    assert out[1]["qvec"] == [64, -127, 32]
    assert abs(out[1]["scale"] - 2.0 / 127) < 1e-12
    assert out[2]["qvec"] == [0, 0, 0] and out[2]["scale"] == 0.0
    assert out[3]["qvec"] == [-127]
    # dequantized error bounded by scale/2 per element
    for r in (out[1], out[3]):
        for x, q in zip(r["embedding"], r["qvec"]):
            assert abs(x - q * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_incremental_flags_exact_near_novel(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about stars "
                        "planets moons comets and the wide cold cosmos")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(101, base),                      # exact dup of corpus 1
         (102, base + " extra"),           # near dup of corpus 1
         (103, "a wholly novel document about cooking pasta with basil "
               "tomatoes garlic and good olive oil for dinner")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.incremental_flags(batch, corpus, threshold=0.6).collect()}
    assert got[101]["exact_dup"] and got[101]["near_dup"]
    assert got[101]["max_jaccard"] == 1.0
    assert (not got[102]["exact_dup"]) and got[102]["near_dup"]
    assert 0.6 <= got[102]["max_jaccard"] < 1.0
    assert not got[103]["exact_dup"] and not got[103]["near_dup"]
    assert got[103]["max_jaccard"] is None
    assert len(got) == 3


def test_incremental_flags_reuses_corpus_signatures(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"])
    sigs = dedup.minhash_signatures(corpus, "doc_id")
    with_store = dedup.incremental_flags(
        batch, corpus, threshold=0.6, corpus_signatures=sigs).collect()
    without = dedup.incremental_flags(batch, corpus, threshold=0.6).collect()
    assert sorted(map(tuple, with_store)) == sorted(map(tuple, without))


def test_incremental_dedupe_matches_global_rerun(spark):
    # corpus ids sort below batch ids -> incremental survivors must equal
    # the batch rows a global minhash_dedupe over corpus+batch would keep
    a = ("one two three four five six seven eight nine ten eleven twelve "
         "thirteen fourteen fifteen sixteen seventeen eighteen nineteen")
    b = ("red orange yellow green blue indigo violet crimson amber teal "
         "magenta cyan maroon olive navy coral salmon ivory pearl onyx")
    c = ("north south east west up down left right forward backward "
         "inward outward clockwise widdershins sunwise moonwise starwise")
    corpus = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, a),                 # exact dup of corpus 1 -> dropped
         (11, b + " extra"),      # near dup of corpus 2 -> dropped
         (12, c),                 # novel -> kept
         (13, c + " extra"),      # near dup of 12 within batch -> dropped
         (14, "tiny")],           # novel short -> kept
        ["doc_id", "text"])
    inc = sorted(r["doc_id"] for r in
                 dedup.incremental_dedupe(batch, corpus,
                                          threshold=0.6).collect())
    full = dedup.minhash_dedupe(corpus.unionByName(batch), "doc_id",
                                threshold=0.6)
    glob = sorted(r["doc_id"] for r in full.collect() if r["doc_id"] >= 10)
    assert inc == glob == [12, 14]


def test_incremental_dedupe_chain_across_corpus_boundary(spark):
    # X near-dups corpus doc C; Y near-dups X but NOT C. The global
    # transitive rerun forms component {C, X, Y} and drops BOTH batch
    # docs; the incremental path must too (X's batch-side edges are
    # formed even though X itself is vs-corpus flagged). bands=16 (r=2)
    # keeps LSH candidate recall ~1 at these jaccard levels so the test
    # is deterministic about the chain actually materializing.
    c_text = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliett kilo lima mike november oscar papa quebec romeo")
    x_text = c_text + " sierra tango uniform victor whiskey xray"
    y_text = x_text + (" yankee zulu amber bronze copper dusty ember "
                       "fable grove harbor ivory jasper keystone lantern")
    corpus = spark.createDataFrame([(1, c_text)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, x_text), (11, y_text),
         (12, "wholly unrelated novel content about deep sea trenches "
              "bioluminescent squid hydrothermal vents and pale crabs")],
        ["doc_id", "text"])
    kw = dict(threshold=0.6, bands=16)
    inc = sorted(r["doc_id"] for r in
                 dedup.incremental_dedupe(batch, corpus, **kw).collect())
    glob = sorted(r["doc_id"] for r in
                  dedup.minhash_dedupe(corpus.unionByName(batch), "doc_id",
                                       threshold=0.6, bands=16).collect()
                  if r["doc_id"] >= 10)
    assert inc == glob == [12]
    # precondition check: Y was NOT droppable vs the corpus directly —
    # only through the chain (otherwise this test isn't testing the chain)
    flags = {r["doc_id"]: r for r in
             dedup.incremental_flags(batch, corpus, threshold=0.6,
                                     bands=16).collect()}
    assert flags[10]["near_dup"] and not flags[11]["near_dup"]


def test_paragraph_dedupe_untouched_docs_keep_original_text(spark):
    # reassembly lowercases and collapses whitespace — docs that lost no
    # passage must bypass it and keep their text verbatim
    df = spark.createDataFrame(
        [(1, "Hello World.\n\nSee You Soon"),
         (2, "dup chunk one two\nmore text here now"),
         (3, "dup chunk one two\nother tail words go")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.paragraph_dedupe(df, "doc_id", chunk_tokens=4).collect()}
    assert got[1]["text_dedup"] == "Hello World.\n\nSee You Soon"
    assert got[1]["n_removed"] == 0
    # repaired docs still get the (lossy) reassembled form
    assert got[2]["n_removed"] == 1
    assert got[2]["text_dedup"] == "more text here now"


def test_curate_paragraph_repair_emptied_docs_are_dropped(spark):
    from xema_spark import pipeline

    # three docs of pure shared boilerplate repair to '' and must not
    # ship; the mixed doc survives with the boilerplate removed
    df = spark.createDataFrame(
        [(1, "click here to subscribe"),
         (2, "click here to subscribe"),
         (3, "click here to subscribe"),
         (4, "click here to subscribe real unique content words")],
        ["doc_id", "text"])
    out = pipeline.curate(df, near_dup_threshold=None, paragraph_dedup=True)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == {4: "real unique content words"}


def test_lm_score_hand_computed(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           text.lm_score(df, "doc_id", add_k=0.5).collect()}
    # counts: c(a,b)=3, c(b,a)=1; ctx a=3, b=1; V=3
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (1 + 0.5 * 3)
    d1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    d2 = -math.log(p_ab)
    assert got[1]["n_bigrams"] == 3 and got[1]["scoreable"]
    assert abs(got[1]["avg_nll"] - round(d1, 6)) < 1e-9
    assert abs(got[1]["ppl"] - round(math.exp(d1), 6)) < 1e-9
    assert abs(got[2]["avg_nll"] - round(d2, 6)) < 1e-9
    # single-token doc: no transitions to judge
    assert got[3]["n_bigrams"] == 0 and not got[3]["scoreable"]
    assert got[3]["avg_nll"] is None and got[3]["ppl"] is None


def test_signature_store_columns_and_null_guard(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "hi"),                  # too short to shingle (n=5 after norm)
         (3, "cat"),                 # also shingle-less, different text
         (4, None)],
        ["doc_id", "text"])
    st = dedup.signature_store(df, "doc_id", k=8)
    rows = {r["doc"]: r for r in st.collect()}
    assert set(rows) == {1, 2, 3, 4}
    # mh columns agree with minhash_signatures for shingled docs
    sig = dedup.minhash_signatures(df.filter("doc_id = 1"), "doc_id", k=8) \
        .collect()[0]
    assert all(rows[1][f"mh_{i}"] == sig[f"mh_{i}"] for i in range(8))
    # shingle-less docs: store row present, ALL mh null (the xxhash64
    # null-skip guard — without it 2 and 3 would share a non-null signature)
    for d in (2, 3):
        assert all(rows[d][f"mh_{i}"] is None for i in range(8))
    assert rows[2]["exact_h"] != rows[3]["exact_h"]
    assert rows[4]["exact_h"] is None
    # and they must NOT near-dup each other through the flags path
    flags = dedup.incremental_flags_sig(
        dedup.signature_store(df.filter("doc_id = 2"), "doc_id", k=8),
        st.filter("doc != 2"), k=8)
    got = flags.collect()[0]
    assert not got["near_dup"] and not got["exact_dup"]


def test_incremental_flags_sig_agrees_on_clear_cases(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about stars "
                        "planets moons comets and the wide cold cosmos")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(101, base),                      # exact dup of corpus 1
         (102, base + " extra"),           # strong near dup of corpus 1
         (103, "a wholly novel document about cooking pasta with basil "
               "tomatoes garlic and good olive oil for dinner")],
        ["doc_id", "text"])
    store = dedup.signature_store(corpus, "doc_id")
    got = {r["doc_id"]: r for r in dedup.incremental_flags_sig(
        dedup.signature_store(batch, "doc_id"), store,
        threshold=0.6).collect()}
    txt = {r["doc_id"]: r for r in dedup.incremental_flags(
        batch, corpus, threshold=0.6).collect()}
    for d in (101, 102, 103):
        assert got[d]["exact_dup"] == txt[d]["exact_dup"], d
        assert got[d]["near_dup"] == txt[d]["near_dup"], d
    assert got[101]["est_jaccard"] == 1.0   # identical text -> identical sig
    assert 0.6 <= got[102]["est_jaccard"] <= 1.0
    assert got[103]["est_jaccard"] is None


def test_ingest_batch_sig_chain_and_store_growth(spark):
    base = ("pack my box with five dozen liquor jugs while the sphinx "
            "of black quartz judges my vow quickly and quietly")
    b1 = spark.createDataFrame(
        [(1, base),
         (2, base),        # within-batch exact dup of 1 -> dropped (min id)
         (3, "a separate first-batch document listing rivers mountains "
             "valleys deserts and other grand landscape features")],
        ["doc_id", "text"])
    surv1, sig1 = dedup.ingest_batch_sig(b1, None, threshold=0.6)
    assert sorted(r["doc_id"] for r in surv1.collect()) == [1, 3]
    assert sorted(r["doc"] for r in sig1.collect()) == [1, 3]
    b2 = spark.createDataFrame(
        [(11, base),                  # exact dup of stored 1 -> dropped
         (12, base + " extra"),       # near dup of stored 1 -> dropped
         (13, "an entirely new second-batch document about sailing "
              "boats across calm lakes at sunrise with light wind")],
        ["doc_id", "text"])
    surv2, sig2 = dedup.ingest_batch_sig(b2, sig1, threshold=0.6)
    assert sorted(r["doc_id"] for r in surv2.collect()) == [13]
    assert sorted(r["doc"] for r in sig2.collect()) == [13]
    # survivors' signatures carry the store schema (appendable)
    assert sig2.columns == sig1.columns


def test_ingest_batch_sig_infected_component_drops_entirely(spark):
    base = ("she sells sea shells by the sea shore and the shells she "
            "sells are surely sea shells from the shore so i am sure")
    sfx1 = " one two three four five six seven"
    sfx2 = " red blue green gold pink grey teal cyan plum"
    # true shingle Jaccards of this construction: J(store,X)=0.72,
    # J(X,Y)=0.73, J(store,Y)=0.53 — at k=128 the estimator's stderr is
    # ~0.04, so threshold 0.65 separates the chain deterministically
    store = dedup.signature_store(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]),
        "doc_id", k=128)
    # X near-dups the store; Y near-dups X; Y is NOT itself within
    # threshold of the store — with transitive=True the whole {X, Y}
    # component must drop (its global component contains stored doc 1)
    b = spark.createDataFrame(
        [(21, base + sfx1),          # X: vs-store near dup
         (22, base + sfx1 + sfx2)],  # Y: near-dups X, not the store
        ["doc_id", "text"])
    bsig = dedup.signature_store(b, "doc_id", k=128)
    flags = {r["doc_id"]: r for r in dedup.incremental_flags_sig(
        bsig, store, k=128, bands=32, threshold=0.65).collect()}
    # preconditions for the chain shape (deterministic hashes -> stable):
    # only X is flagged against the store; Y reaches the drop set solely
    # through X's component
    assert flags[21]["near_dup"] and not flags[22]["near_dup"]
    surv, _ = dedup.ingest_batch_sig(b, store, k=128, bands=32,
                                     threshold=0.65,
                                     batch_signatures=bsig)
    assert surv.count() == 0
    # per-pair mode also drops both here (21 flagged, 22 = greatest of the
    # verified within-batch pair) — the transitive difference shows when
    # the chain is longer; this pins that BOTH modes honor vs-store flags
    surv_pp, _ = dedup.ingest_batch_sig(b, store, k=128, bands=32,
                                        threshold=0.65,
                                        transitive=False,
                                        batch_signatures=bsig)
    assert surv_pp.count() == 0


def test_curate_max_per_source_is_last_selection_stage(spark):
    from xema_spark import pipeline, sampling

    rows = [(i, f"a reasonably long document number {i} about common "
                f"everyday things with plenty of normal words in it",
             f"s{i % 2}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    capped = pipeline.curate(df, near_dup_threshold=None,
                             exact_dedupe=False, max_per_source=5)
    per = {r["source"]: r["n"] for r in
           capped.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert per == {"s0": 5, "s1": 5}
    # composition: caps applied to the uncapped curate output give the
    # SAME kept set (the quota is the last selection stage)
    uncapped = pipeline.curate(df.withColumn("source", F.col("source")),
                               near_dup_threshold=None, exact_dedupe=False,
                               max_per_source=None)
    # uncapped curate drops the source column (no carry) — re-attach
    ref = sampling.source_caps(
        uncapped.join(df.select("doc_id", "source"), "doc_id"),
        "doc_id", "source", cap=5)
    assert ({r["doc_id"] for r in capped.collect()}
            == {r["doc_id"] for r in ref.collect()})


def test_decontaminate_semantic_flags_and_max(spark):
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0]),    # parallel to bench A -> cos 1.0
         (2, [0.0, 3.0]),    # parallel to bench B -> cos 1.0
         (3, [1.0, 1.0]),    # 45 deg to both -> cos 0.707107
         (4, [-1.0, 0.0])],  # anti-parallel to A -> cos 0 vs B
        ["vec_id", "embedding"])
    bench = spark.createDataFrame(
        [([1.0, 0.0],), ([0.0, 1.0],)], ["q_vec"])
    got = {r["vec_id"]: r for r in similarity.decontaminate_semantic(
        corpus, bench, threshold=0.9).collect()}
    assert got[1]["contaminated"] and got[2]["contaminated"]
    assert not got[3]["contaminated"] and not got[4]["contaminated"]
    assert abs(got[3]["max_bench_cos"] - 0.707107) < 1e-6
    assert got[4]["max_bench_cos"] == 0.0   # max over {-1, 0}
    assert len(got) == 4                    # one row per corpus vector
    # scale shape: bench rides a broadcast nested-loop join (no shuffle
    # before the final partial-agg max)
    plan = similarity.decontaminate_semantic(
        corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_decontaminate_semantic_empty_benchmark_raises(spark):
    # the documented precondition is enforced: an empty eval set must fail
    # loudly, not return an empty report a semi/anti-join consumer misreads
    corpus = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    bench = spark.createDataFrame([([1.0, 0.0],)], ["q_vec"]) \
        .filter(F.lit(False))
    with pytest.raises(ValueError, match="benchmark frame is empty"):
        similarity.decontaminate_semantic(corpus, bench)


def test_near_dup_losers_by_keeps_best_scoring(spark):
    # chain component {1,2,3} + pair component {10, 11}
    dups = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"])
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (11, 0.4)],  # 10 unscored -> -inf
        ["doc_id", "score"])
    losers = {r["doc_id"] for r in dedup.near_dup_losers_by(
        dups, scores).collect()}
    # component {1,2,3}: 2 has the best score -> 1 and 3 drop;
    # {10,11}: 10 is unscored (ranks below everything) -> 10 drops
    assert losers == {1, 3, 10}
    # tie-break: equal scores keep the smallest id
    tie = spark.createDataFrame([(5, 0.5), (6, 0.5)], ["doc_id", "score"])
    l2 = {r["doc_id"] for r in dedup.near_dup_losers_by(
        spark.createDataFrame([(5, 6)], ["doc_a", "doc_b"]), tie).collect()}
    assert l2 == {6}
    # per-pair mode drops the lower-scoring side of each verified pair
    l3 = {r["doc_id"] for r in dedup.near_dup_losers_by(
        dups, scores, transitive=False).collect()}
    assert l3 == {1, 3, 10}  # (1,2)->1, (2,3)->3, (10,11)->10


def test_curate_source_caps_does_not_leak_source_into_rule(spark):
    from xema_spark import pipeline

    # a STRICT rule (additional_properties=false over doc_id/text): the
    # caps carry column must not enter the validated row struct, or every
    # row would fail for having `source`
    rule = {"type": "object",
            "properties": {"doc_id": {}, "text": {"min_length": 5}},
            "additional_properties": False}
    rows = [(i, f"document number {i} with enough words to pass the gates",
             f"s{i % 2}") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = pipeline.curate(df, rule=rule, near_dup_threshold=None,
                          exact_dedupe=False, max_per_source=3)
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"s0": 3, "s1": 3}


def test_semantic_dedupe_keep_most_atypical(spark):
    # two well-separated cells; cell 0 has a 3-vector near-dup chain plus
    # one distinct member, cell 1 has a near-dup pair
    rows = [
        (10, [1.0, 0.0, 0.0]), (11, [0.9999, 0.002, 0.0]),
        (12, [0.9998, 0.004, 0.0]),          # chain 10~11~12
        (13, [0.9, 0.43, 0.0]),              # same cell, not a dup
        (20, [0.0, 1.0, 0.0]), (21, [0.002, 0.9999, 0.0]),  # pair 20~21
        (22, [0.0, 0.6, 0.8]),               # same cell, not a dup
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    out = {r["vec_id"]: r for r in similarity.semantic_dedupe(
        df, centroids=cents, threshold=0.999).collect()}
    assert len(out) == 7                       # one verdict row per vector
    # component {10,11,12}: 12 is least similar to the centroid -> kept
    assert [out[i]["component"] for i in (10, 11, 12)] == [10, 10, 10]
    assert (out[10]["is_kept"], out[11]["is_kept"], out[12]["is_kept"]) \
        == (False, False, True)
    # component {20,21}: 21 is the more atypical member
    assert out[20]["component"] == 20 and not out[20]["is_kept"]
    assert out[21]["is_kept"]
    # non-duplicates keep NULL component and survive
    for i in (13, 22):
        assert out[i]["component"] is None and out[i]["is_kept"]
    # cell assignment and centroid similarity are reported
    assert out[13]["cell"] == 0 and out[22]["cell"] == 1
    assert out[10]["cent_cos"] == 1.0
    # cross-cell vectors NEVER pair: a near-dup of 10 placed in cell 1
    # (by construction of its vector) is not possible here, but the pair
    # count certifies only intra-cell pairs existed
    dropped = [i for i, r in out.items() if not r["is_kept"]]
    assert sorted(dropped) == [10, 11, 20]


def test_semantic_dedupe_respects_max_cell_cap(spark):
    # a degenerate cell larger than max_cell is skipped (no pair explosion)
    rows = [(i, [1.0, float(i) * 1e-6, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0, 0.0])]
    out = similarity.semantic_dedupe(df, centroids=cents, threshold=0.99,
                                     max_cell=5)
    assert out.filter(~F.col("is_kept")).count() == 0  # cap skipped the cell
    assert out.count() == 10


def test_prototypicality_filter_drops_cell_cores(spark):
    # cell 0: three prototypical vectors near the centroid + one edge
    # vector; drop_frac 0.5 must drop from the top of the cent_cos order
    rows = [
        (1, [1.0, 0.0]), (2, [0.999, 0.045]), (3, [0.99, 0.14]),
        (4, [0.8, 0.6]),                        # cluster edge (still cell 0)
        (10, [0.0, 1.0]), (11, [0.14, 0.99]),   # second cell
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = {r["vec_id"]: r for r in similarity.prototypicality_filter(
        df, centroids=cents, drop_frac=0.5).collect()}
    assert len(out) == 6
    # cell 0 threshold = median of its 4 cent_cos values: the two most
    # prototypical (1, 2) drop, the two least (3, 4) survive
    assert (out[1]["is_kept"], out[2]["is_kept"]) == (False, False)
    assert (out[3]["is_kept"], out[4]["is_kept"]) == (True, True)
    # cell 1: median of {cos(10), cos(11)} keeps only the edge vector
    assert not out[10]["is_kept"] and out[11]["is_kept"]
    assert out[4]["cell"] == 0 and out[11]["cell"] == 1


def test_prototypicality_filter_plan_is_window_free(spark, emb):
    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding"))
    out = similarity.prototypicality_filter(e, n_cells=8, drop_frac=0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan            # threshold join, not a rank
    assert "BroadcastHashJoin" in plan     # <= n_cells threshold rows
    tot, kept = out.count(), out.filter("is_kept").count()
    assert 0.65 < kept / tot < 0.9         # ~drop_frac realized


def test_curate_semantic_dedup_stage(spark):
    from xema_spark import pipeline

    # docs 1 and 2 are token-distinct (MinHash can't pair them) but their
    # embeddings are near-identical; 2 is the more atypical -> 1 drops.
    # doc 3 has no embedding row and must pass through untouched.
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "a fast auburn canine leaps above the idle hound now"),
         (3, "completely unrelated text about spark query planning")],
        ["doc_id", "text"])
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.045, 0.0])],
        ["vec_id", "embedding"])
    kept = sorted(r["doc_id"] for r in pipeline.curate(
        df, near_dup_threshold=None,
        embeddings=emb, semantic_threshold=0.99,
        semantic_cells=1).collect())
    assert kept == [2, 3]
    # embeddings=None keeps the stage out of the plan entirely
    kept2 = sorted(r["doc_id"] for r in pipeline.curate(
        df, near_dup_threshold=None).collect())
    assert kept2 == [1, 2, 3]


def test_curate_semantic_stage_string_ids_and_no_embedded_survivors(spark):
    from xema_spark import pipeline

    # string doc ids: the default centroid draw must label cells
    # positionally, not int() the ids
    df = spark.createDataFrame(
        [("doc-a", "the quick brown fox jumps over the lazy dog today"),
         ("doc-b", "a fast auburn canine leaps above the idle hound now")],
        ["doc_id", "text"])
    emb = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [0.9999, 0.015])],
        ["vec_id", "embedding"])
    kept = sorted(r["doc_id"] for r in pipeline.curate(
        df, near_dup_threshold=None, embeddings=emb,
        semantic_threshold=0.99, semantic_cells=1).collect())
    assert kept == ["doc-b"]               # the more atypical member wins
    # embeddings that intersect ZERO survivors: stage is a no-op, not a
    # crash (the documented pass-through contract)
    emb_disjoint = spark.createDataFrame(
        [("doc-zz", [1.0, 0.0])], ["vec_id", "embedding"])
    kept2 = sorted(r["doc_id"] for r in pipeline.curate(
        df, near_dup_threshold=None, embeddings=emb_disjoint).collect())
    assert kept2 == ["doc-a", "doc-b"]


def test_semantic_dedupe_invariants_random_vectors(spark):
    # structural invariants on a seeded random corpus: one verdict per
    # vector, exactly ONE kept member per duplicate component, NULL
    # component always kept
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 8))
    rows = []
    vid = 0
    for b in base:
        for _ in range(int(rng.integers(1, 4))):   # 1-3 near-copies each
            v = b + rng.normal(scale=1e-3, size=8)
            rows.append((vid, [float(x) for x in v])); vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedupe(df, n_cells=4, threshold=0.999).collect()
    assert len(out) == len(rows)
    comps = {}
    for r in out:
        if r["component"] is None:
            assert r["is_kept"]
        else:
            comps.setdefault(r["component"], []).append(r)
    for comp, members in comps.items():
        assert sum(1 for m in members if m["is_kept"]) == 1
        assert len(members) >= 2           # a component is never a singleton
        # the kept member is the component argmin (cent_cos, vec_id)
        want = min(members, key=lambda m: (m["cent_cos"], m["vec_id"]))
        assert want["is_kept"]


def test_prototypicality_filter_invariants_random_vectors(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.prototypicality_filter(df, n_cells=4,
                                            drop_frac=0.3).collect()
    assert len(out) == 80
    # within every cell, NO dropped vector is less prototypical than a
    # kept one (the threshold is a clean cut in cent_cos order)
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        kept_max = max((m["cent_cos"] for m in members if m["is_kept"]),
                       default=None)
        drop_min = min((m["cent_cos"] for m in members if not m["is_kept"]),
                       default=None)
        if kept_max is not None and drop_min is not None:
            assert drop_min >= kept_max


def test_bm25_scores_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "spark spark engine"),       # tf(spark)=2, dl=3
         (2, "engine room"),              # no query term... engine is one
         (3, "the cat sat"),              # no hits
         (4, None)],                      # null text -> 0
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.bm25_scores(
        df, "doc_id", ["spark", "engine"]).collect()}
    assert len(got) == 4
    assert got[3]["bm25"] == 0.0 and got[3]["n_terms_hit"] == 0
    assert got[4]["bm25"] == 0.0
    assert got[1]["n_terms_hit"] == 2 and got[2]["n_terms_hit"] == 1
    # hand computation: N=4, avgdl = mean(3, 2, 3, 0) — null text counts
    # as a 0-token doc (the operator guards legacy size(NULL) = -1)
    k1, b = 1.2, 0.75
    N = 4
    avgdl = (3 + 2 + 3 + 0) / 4
    def idf(df_t):
        return math.log(1 + (N - df_t + 0.5) / (df_t + 0.5))
    def part(tf, dl, df_t):
        return idf(df_t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    want1 = part(2, 3, 1) + part(1, 3, 2)   # spark df=1, engine df=2
    want2 = part(1, 2, 2)
    assert abs(got[1]["bm25"] - round(want1, 6)) < 1e-9
    assert abs(got[2]["bm25"] - round(want2, 6)) < 1e-9
    assert got[1]["bm25"] > got[2]["bm25"]


def test_bm25_scores_merged_ids(spark):
    import math

    # duplicate doc_ids: with unique_ids=False they are FRAGMENTS of one
    # logical document — dl sums, tf sums, N/avgdl over distinct ids,
    # exactly one output row per distinct id
    df = spark.createDataFrame(
        [("a", "spark spark engine"),     # a: fragment 1 (dl 3)
         ("a", "spark room"),             # a: fragment 2 (dl 2)
         ("b", "engine"),                 # b: dl 1
         ("c", None)],                    # c: dl 0
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.bm25_scores(
        df, "doc_id", ["spark", "engine"], unique_ids=False).collect()}
    assert len(got) == 3                  # one row per DISTINCT id
    k1, b = 1.2, 0.75
    N = 3                                 # distinct docs
    avgdl = (5 + 1 + 0) / 3               # merged dl for a
    def idf(df_t):
        return math.log(1 + (N - df_t + 0.5) / (df_t + 0.5))
    def part(tf, dl, df_t):
        return idf(df_t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    want_a = part(3, 5, 1) + part(1, 5, 2)   # tf(spark)=3 merged, df(spark)=1
    want_b = part(1, 1, 2)
    assert got["a"]["n_terms_hit"] == 2 and got["b"]["n_terms_hit"] == 1
    assert abs(got["a"]["bm25"] - round(want_a, 6)) < 1e-9
    assert abs(got["b"]["bm25"] - round(want_b, 6)) < 1e-9
    assert got["c"]["bm25"] == 0.0 and got["c"]["n_terms_hit"] == 0


def test_winnow_overlap_shared_paragraph_and_cull(spark):
    shared = "identical boilerplate paragraph reused verbatim across docs"
    df = spark.createDataFrame(
        [(1, shared + " plus unique tail alpha omega xylophone"),
         (2, "entirely different leading prose here then " + shared),
         (3, "no overlap with anything else at all in this one zebra")],
        ["doc_id", "text"])
    out = {(r["doc_a"], r["doc_b"]): r["shared"] for r in
           text.winnow_overlap(df, "doc_id", k=5, w=4, min_shared=2).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 2   # shared substring detected
    assert not any(3 in p for p in out)          # unrelated doc pairs nothing
    # ubiquitous-fingerprint cull: a fp in EVERY doc never reaches the join
    many = spark.createDataFrame(
        [(i, shared) for i in range(10)], ["doc_id", "text"])
    assert text.winnow_overlap(many, "doc_id", max_fp_docs=5).count() == 0
    # and the same corpus passes once the cap admits the fp frequency
    assert text.winnow_overlap(many, "doc_id", max_fp_docs=10).count() == 45
    with pytest.raises(ValueError, match="min_shared"):
        text.winnow_overlap(df, "doc_id", min_shared=0)


def test_project_embeddings_flavors_match_and_preserve_geometry(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    inline = similarity.project_embeddings(
        df, "embedding", in_dim=32, out_dim=8, inline_max_literals=4096)
    bcast = similarity.project_embeddings(
        df, "embedding", in_dim=32, out_dim=8, inline_max_literals=4)
    # literal and broadcast plan shapes compute the identical projection
    assert inline.select("vec_id", "proj").exceptAll(
        bcast.select("vec_id", "proj")).count() == 0
    got = {r["vec_id"]: r["proj"] for r in inline.collect()}
    assert all(len(v) == 8 for v in got.values())
    # JL scaling: E[||proj||^2] = ||x||^2 — corpus-level ratio near 1
    import math
    n2_in = {i: sum(x * x for x in v) for i, v in rows}
    ratio = (sum(sum(x * x for x in got[i]) for i, _ in rows)
             / sum(n2_in.values()))
    assert 0.6 < ratio < 1.6
    # deterministic: same seed same matrix, different seed different one
    again = similarity.project_embeddings(
        df, "embedding", in_dim=32, out_dim=8)
    assert inline.exceptAll(again).count() == 0
    other = similarity.project_embeddings(
        df, "embedding", in_dim=32, out_dim=8, seed="v2")
    assert inline.exceptAll(other).count() > 0
    with pytest.raises(ValueError, match="out_dim"):
        similarity.projection_signs(0, 4)


def test_remove_duplicate_spans_keep_first_and_none(spark):
    boiler = "SHARED-BOILERPLATE-PARAGRAPH-REPEATED-VERBATIM-EVERYWHERE"
    df = spark.createDataFrame(
        [(1, "unique alpha prose " + boiler + " unique omega prose"),
         (2, boiler + " totally different original tail content here"),
         (3, "no duplication in this document at all whatsoever xyz")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(
        df, "doc_id", k=20).collect()}
    # keep='first': doc 1 (lowest id containing the grams) keeps the span
    assert boiler in out[1]["text"] and out[1]["n_dup_spans"] == 0
    # doc 2 loses exactly the shared region, unique tail survives verbatim
    assert boiler not in out[2]["text"]
    assert "totally different original tail content here" in out[2]["text"]
    assert out[2]["n_dup_spans"] == 1
    # the char AFTER the boilerplate is a space in BOTH docs, so the maximal
    # shared span is boiler + that space
    assert out[2]["dup_chars_removed"] == len(boiler) + 1
    # untouched doc passes through byte-for-byte
    assert out[3]["text"] == df.collect()[2]["text"]
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_chars_removed"] == 0
    # keep='none': the span vanishes from BOTH copies
    both = {r["doc_id"]: r["text"] for r in dedup.remove_duplicate_spans(
        df, "doc_id", k=20, keep="none").collect()}
    assert boiler not in both[1] and boiler not in both[2]
    assert "unique alpha prose" in both[1] and "unique omega prose" in both[1]


def test_duplicate_spans_merge_and_edges(spark):
    shared = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"  # 36 chars, k=10
    df = spark.createDataFrame(
        [(1, shared), (2, "xx" + shared + "yy"),
         (3, "short"), (4, None)],
        "doc_id long, text string")
    spans = {r["doc"]: (r["start"], r["end"]) for r in dedup.duplicate_spans(
        df, "doc_id", k=10, keep="none").collect()}
    # 27 overlapping marked grams merge into ONE maximal island per doc
    assert spans[1] == (0, 35) and spans[2] == (2, 37)
    assert 3 not in spans and 4 not in spans
    # removal splices the island out at the right offsets
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(
        df, "doc_id", k=10, keep="none").collect()}
    assert out[1]["text"] == "" and out[2]["text"] == "xxyy"
    assert out[2]["dup_chars_removed"] == 36
    # NULL text and sub-k text pass through
    assert out[3]["text"] == "short" and out[4]["text"] is None
    assert out[4]["n_dup_spans"] == 0 and out[4]["dup_chars_removed"] == 0
    with pytest.raises(ValueError, match="min_docs"):
        dedup.duplicate_spans(df, "doc_id", min_docs=1)
    with pytest.raises(ValueError, match="keep"):
        dedup.duplicate_spans(df, "doc_id", keep="last")
    with pytest.raises(ValueError, match="k must"):
        dedup.duplicate_spans(df, "doc_id", k=1)


def test_remove_duplicate_spans_two_islands_one_doc(spark):
    a = "FIRST-SHARED-CHUNK-OF-TEXT-HERE!"
    b = "SECOND-SHARED-CHUNK-ELSEWHERE-OK"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a + " middle unique glue text " + b)],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(
        df, "doc_id", k=16, keep="none").collect()}
    assert out[3]["n_dup_spans"] == 2
    assert out[3]["text"] == " middle unique glue text "
    assert out[3]["dup_chars_removed"] == len(a) + len(b)


def test_project_embeddings_dim_guard(spark):
    df = spark.createDataFrame(
        [(1, [0.1] * 8), (2, None)], "vec_id long, embedding array<float>")
    # NULL vectors project to NULL instead of raising
    ok = similarity.project_embeddings(
        df.filter("vec_id = 2"), "embedding", in_dim=16, out_dim=4)
    assert ok.collect()[0]["proj"] is None
    # a non-NULL vector of the wrong length fails LOUDLY, not all-NULL
    with pytest.raises(Exception, match="expected 16-d"):
        similarity.project_embeddings(
            df.filter("vec_id = 1"), "embedding",
            in_dim=16, out_dim=4).collect()
    # a correct-length vector with a NULL ELEMENT fails LOUDLY too — the
    # fold would otherwise NULL-poison every projected component silently
    holey = spark.createDataFrame(
        [(3, [0.1] * 7 + [None])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="NULL elements"):
        similarity.project_embeddings(
            holey, "embedding", in_dim=8, out_dim=4).collect()
