"""Extensions: dedup / text / similarity / asof / windows / multimodal."""

import pytest

# multi-version lifecycle / property stress: run in the FULL gate;
# deselect with -m "not slow" for the fast (<10 min) loop
pytestmark = pytest.mark.slow

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from arcticdb_spark.extensions import dedup as xdedup
from arcticdb_spark.extensions import joins as xjoins
from arcticdb_spark.extensions import multimodal as xmm
from arcticdb_spark.extensions import similarity as xsim
from arcticdb_spark.extensions import text as xtext
from arcticdb_spark.extensions import windows as xwin


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup
        (2, "The  quick brown fox jumps over the lazy dog"),         # ws/case dup
        (3, "the quick brown fox leaps over the lazy dog"),          # near dup
        (4, "completely different text about spark engines and data"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = xdedup.exact_dedup(_docs(spark)).toPandas()
    grp = out.set_index("doc_id")["dup_count"].to_dict()
    assert grp[0] == 3          # 0,1,2 collapse after normalization
    assert grp[3] == 1 and grp[4] == 1 and grp[5] == 1


def test_minhash_finds_near_dups(spark):
    # rows-per-band=1: any agreeing signature position -> candidate
    # (p_miss = (1-j)^16 ~ 0 for the planted near-dup)
    pairs = xdedup.minhash_near_dup_pairs(_docs(spark), num_hashes=16, bands=16, k=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got   # exact dups always collide
    assert (0, 3) in got                      # near dup collides in some band
    assert not any(4 in p for pair in got for p in [pair] for _ in [0] if 4 in pair and 5 in pair)


def test_jaccard_threshold(spark):
    out = xdedup.jaccard_near_dup_pairs(_docs(spark), threshold=0.5,
                                        num_hashes=16, bands=16, k=2).toPandas()
    pairs = {(a, b): j for a, b, j in zip(out.id_a, out.id_b, out.jaccard)}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] > 0.5


def test_simhash_hamming(spark):
    out = xdedup.simhash_near_dup_pairs(_docs(spark), max_hamming=0).toPandas()
    got = {(a, b) for a, b in zip(out.id_a, out.id_b)}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got


@pytest.mark.parametrize("max_hamming,bands", [(0, 4), (3, 4), (12, 4),
                                                (60, 5)])
def test_simhash_pairs_match_all_pairs_popcount(spark, max_hamming, bands):
    """Every pair within ``max_hamming`` bits that shares an exact chunk,
    once, with its hamming distance: an all-pairs reference over the
    kernel's own hashes."""
    from itertools import combinations
    df = _docs(spark).unionByName(spark.createDataFrame([
        (6, "the quick brown fox jumps over the lazy cat"),
        (7, "the quick brown cat jumps over the lazy fox"),
        (8, "a slow red fox walks under the busy dog"),
        (9, "completely different text about spark engines and code"),
    ], "doc_id long, text string"))
    sh = {r.doc_id: r.sh for r in
          df.select("doc_id", xdedup.simhash("text").alias("sh")).collect()}
    width = 60 // bands
    mask = (1 << width) - 1
    want = []
    for a, b in combinations(sorted(sh), 2):
        x, y = sh[a], sh[b]
        ham = bin(x ^ y).count("1")
        shares = any((x >> (i * width)) & mask == (y >> (i * width)) & mask
                     for i in range(bands))
        if ham <= max_hamming and shares:
            want.append((a, b, ham))
    got = [tuple(r) for r in xdedup.simhash_near_dup_pairs(
        df, max_hamming=max_hamming, bands=bands)
        .select("id_a", "id_b", "hamming").collect()]
    assert sorted(got) == want
    # the wide cases reach pairs across distinct hashes too
    assert any(h > 0 for _, _, h in want) == (max_hamming >= 12)


def test_text_stats_and_langid(spark):
    df = spark.createDataFrame([
        (0, "the cat and the dog, in the house."),
        (1, "der hund und die katze ist nicht da"),
        (2, "xyzzy plugh"),
    ], "doc_id long, text string")
    out = xtext.with_text_stats(df).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[1, "lang_pred"] == "de"
    assert out.loc[2, "lang_pred"] == "unk"
    assert out.loc[0, "n_tokens"] == 8
    assert out.loc[0, "n_punct"] == 2
    assert 0 <= out.loc[0, "quality"] <= 1.0


def test_detect_language_dispatch(spark, monkeypatch):
    # nested def: cloudpickle serializes locally-defined functions BY VALUE
    # into the python workers (a module-level test helper would pickle by
    # reference and fail to import there)
    def fake_lid_loader():
        class _M:  # fastText predict() protocol; 'detects' the first word
            def predict(self, texts):
                labs = [(f"__label__{t.split(' ')[0]}",) if t else ()
                        for t in texts]
                return labs, [(1.0,)] * len(texts)
        return _M()

    df = spark.createDataFrame(
        [(0, "the cat and the dog sat on the mat with it"),
         (1, "xx yy zz")], "doc_id long, text string")
    # heuristic path: deterministic stopword vote, JVM-side
    out = xtext.detect_language(df, model="heuristic").toPandas() \
        .set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[1, "lang_pred"] == "unk"
    # auto without fasttext installed -> heuristic fallback
    monkeypatch.setattr(xtext, "_load_fasttext_model", lambda: None)
    out2 = xtext.detect_language(df, model="auto").toPandas() \
        .set_index("doc_id")
    assert out2.loc[0, "lang_pred"] == "en"
    # explicit fasttext without the dep -> actionable error
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="fasttext"):
        xtext.detect_language(df, model="fasttext")
    # injected model loader -> real mapInPandas path through python workers
    out3 = xtext.detect_language(df, model="fasttext",
                                 loader=fake_lid_loader).toPandas() \
        .set_index("doc_id")
    assert out3.loc[0, "lang_pred"] == "the"
    assert out3.loc[1, "lang_pred"] == "xx"
    with _pytest.raises(ValueError):
        xtext.detect_language(df, model="nope")


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame([(0, "A  b c"), (1, "a b  C"), (2, "a b d")],
                               "doc_id long, text string")
    fp = df.select("doc_id", xtext.fingerprint(F.col("text")).alias("f")).toPandas()
    assert fp.f[0] == fp.f[1] and fp.f[0] != fp.f[2]


def test_similarity_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((30, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>")
    out = xsim.brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=3).toPandas()
    # numpy oracle
    v = vecs.astype("float64")
    sims = v @ v.T / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for qid in range(2):
        s = sims[qid].copy()
        s[qid] = -np.inf
        top = np.argsort(np.round(-s, 6), kind="stable")[:3]
        got = out[out.query_id == qid].sort_values("rank")["vec_id"].tolist()
        assert got == top.tolist()


def test_lsh_recall_reasonable(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((100, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 5)
    exact = xsim.brute_force_topk(df, q, k=3).toPandas()
    approx = xsim.lsh_topk(df, q, k=3, n_planes=6, n_tables=6).toPandas()
    # recall over 5 queries x top3
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    a = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    assert len(e & a) / len(e) >= 0.4
    # the candidate set (k = corpus size keeps every candidate) is the
    # bucket rule replayed in numpy: a vector is a candidate of a query
    # when their sign patterns over some table's seeded planes differ in
    # at most one bit (the query side probes every single-bit flip)
    cand = xsim.lsh_topk(df, q, k=100, n_planes=6, n_tables=6).toPandas()
    want = set()
    for t in range(6):
        sign = vecs.astype("float64") @ xsim._planes(16, 6, 1000 + t).T >= 0
        for qid in range(5):
            near = np.flatnonzero((sign != sign[qid]).sum(axis=1) <= 1)
            want |= {(qid, int(v)) for v in near if v != qid}
    assert {(r.query_id, r.vec_id) for r in cand.itertuples()} == want


def test_seed_spread_on_id_sorted_corpus(spark):
    """Adversarial corpus: ids assigned cluster-by-cluster (appended source
    by source). First-k-by-id seeding would put every seed in cluster 0;
    the md5 content-spread seed must cover multiple content clusters and
    keep IVF recall intact."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 16)) * 10.0
    vecs, owner = [], []
    for c in range(4):                       # ids 0-15 cluster0, 16-31 ...
        for _ in range(16):
            vecs.append(centers[c] + rng.standard_normal(16) * 0.05)
            owner.append(c)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        "vec_id long, embedding array<float>")
    seeds = xsim._seed_rows(df, 8, "vec_id", "embedding")
    seed_clusters = {owner[int(r["cid"])] for r in seeds}
    assert len(seed_clusters) >= 3           # spread, not collapsed
    # recall on one query per cluster, against brute force
    q = df.filter(F.col("vec_id").isin([0, 16, 32, 48]))
    exact = xsim.brute_force_topk(df, q, k=5).toPandas()
    ann = xsim.ivf_topk(df, q, k=5, n_lists=8, nprobe=3).toPandas()
    hits = total = 0
    for qid in (0, 16, 32, 48):
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(ann[ann.query_id == qid].vec_id)
        assert len(e & a) >= 3, (qid, e, a)
        hits, total = hits + len(e & a), total + len(e)
    # round-7 bar (Lloyd-refined centroids + top-2 multi-assignment):
    # overall recall@5 >= 0.85 on the clustered adversarial corpus
    # (measured 1.0; driver corpus 0.9-0.925 across sf0.001-0.1)
    assert hits / total >= 0.85


def test_asof_join_matches_pandas(spark):
    left = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00",
                              "2024-01-01 12:00", "2024-01-02 09:00"]),
        "k": ["a", "a", "b", "b"], "lv": [1, 2, 3, 4]})
    right = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 09:30", "2024-01-01 10:30",
                              "2024-01-01 11:30", "2024-01-03 00:00"]),
        "k": ["a", "a", "b", "b"], "rv": [10.0, 20.0, 30.0, 40.0]})
    out = xjoins.asof_join(spark.createDataFrame(left),
                           spark.createDataFrame(right), on="ts", by="k") \
        .toPandas().sort_values("lv").reset_index(drop=True)
    oracle = pd.merge_asof(left.sort_values("ts"), right.sort_values("ts"),
                           on="ts", by="k").sort_values("lv").reset_index(drop=True)
    assert out["rv"].fillna(-1).tolist() == oracle["rv"].fillna(-1).tolist()


def test_asof_join_keyless_bucketed_matches_pandas(spark):
    """Keyless as-of takes the range-bucketed two-phase path (no global
    single-partition window); results must still match pandas merge_asof
    in both directions, including rows whose carry-in crosses bucket
    boundaries (500 rows over many buckets guarantees boundary crossings)."""
    rng = np.random.default_rng(7)
    lts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 86_400 * 30, 500)), unit="s")
    rts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 86_400 * 30, 200)), unit="s")
    left = pd.DataFrame({"ts": lts, "lv": np.arange(500)})
    right = pd.DataFrame({"ts": rts, "rv": rng.standard_normal(200).round(4)})
    for direction in ("backward", "forward"):
        out = xjoins.asof_join(spark.createDataFrame(left),
                               spark.createDataFrame(right),
                               on="ts", direction=direction) \
            .toPandas().sort_values("lv").reset_index(drop=True)
        oracle = pd.merge_asof(left, right, on="ts", direction=direction) \
            .sort_values("lv").reset_index(drop=True)
        assert out["rv"].fillna(-999).tolist() == \
            oracle["rv"].fillna(-999).tolist(), direction


def test_sessionize(spark):
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:10",
                              "2024-01-01 11:30", "2024-01-01 11:40"]),
        "user_id": [1, 1, 1, 1], "v": [1, 2, 3, 4]})
    out = xwin.sessionize(spark.createDataFrame(pdf), "ts", ["user_id"],
                          gap="30 minutes").toPandas().sort_values("v")
    assert out["session_seq"].tolist() == [1, 1, 2, 2]


def test_topk_per_group(spark):
    pdf = pd.DataFrame({"g": ["a"] * 4 + ["b"] * 3,
                        "v": [5.0, 9.0, 9.0, 1.0, 2.0, 3.0, 4.0],
                        "id": range(7)})
    out = xwin.topk_per_group(spark.createDataFrame(pdf), ["g"], "v", 2,
                              tiebreak=["id"]).toPandas()
    a = out[out.g == "a"].sort_values("rank")
    assert a["id"].tolist() == [1, 2]  # tie broken by id


def test_multimodal_plumbing(spark):
    media = xmm.make_demo_media(spark, n=16)
    feats = xmm.extract_features(media, fake=True, dim=4).toPandas()
    assert len(feats) == 16
    assert set(feats.columns) == {"media_id", "kind", "n_bytes", "sha256", "feat"}
    assert all(len(f) == 4 for f in feats["feat"])
    # deterministic: same content -> same features
    feats2 = xmm.extract_features(media, fake=True, dim=4).toPandas()
    m1 = feats.set_index("media_id")["sha256"].to_dict()
    m2 = feats2.set_index("media_id")["sha256"].to_dict()
    assert m1 == m2


def test_multimodal_real_decoder_seam(spark):
    """The non-fake path through a REAL decoder: hand-encoded valid PNGs
    (pure stdlib: zlib + struct) decoded in the python workers by a
    pure-Python PNG parser — IHDR dimensions plus the mean pixel value of
    the zlib-decompressed scanlines. Exercises the decoder= injection end
    to end; swapping in PIL/ffmpeg changes only this callable."""
    import struct
    import zlib

    def png_bytes(w, h, val):
        def chunk(tag, data):
            c = tag + data
            return (struct.pack(">I", len(data)) + c
                    + struct.pack(">I", zlib.crc32(c)))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
        raw = b"".join(b"\x00" + bytes([val]) * w for _ in range(h))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    def png_decoder(payload, kind):
        import struct as s
        import zlib as z
        assert payload[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
        w, h = s.unpack(">II", payload[16:24])
        # first IDAT chunk (these PNGs have exactly one)
        pos, idat = 8, b""
        while pos < len(payload):
            (ln,), tag = s.unpack(">I", payload[pos:pos + 4]), \
                payload[pos + 4:pos + 8]
            if tag == b"IDAT":
                idat += payload[pos + 8:pos + 8 + ln]
            pos += 12 + ln
        raw = z.decompress(idat)
        pixels = [b for r in range(h)
                  for b in raw[r * (w + 1) + 1:(r + 1) * (w + 1)]]
        return [float(w), float(h), sum(pixels) / len(pixels)]

    rows = [(i, "image", bytearray(png_bytes(2 + i, 3, 10 * i)),
             "image/png", 2 + i, 3, None) for i in range(4)]
    media = spark.createDataFrame(rows, xmm.MEDIA_SCHEMA)
    feats = (xmm.extract_features(media, fake=False, decoder=png_decoder)
             .toPandas().set_index("media_id").sort_index())
    for i in range(4):
        assert list(feats.loc[i, "feat"]) == [2.0 + i, 3.0, 10.0 * i]
    # fake=False without a decoder is a plan-build-time config error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="decoder"):
        xmm.decode_media_batch(fake=False)


def test_range_join(spark):
    left = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 10:15", "2024-01-01 11:45",
                              "2024-01-01 13:30", "2024-01-02 10:15"]),
        "k": ["a", "a", "a", "b"], "lv": [1, 2, 3, 4]})
    right = pd.DataFrame({
        "lo": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 13:00"]),
        "hi": pd.to_datetime(["2024-01-01 12:00", "2024-01-01 14:00"]),
        "k": ["a", "a"], "rv": [100, 200]})
    out = xjoins.range_join(spark.createDataFrame(left),
                            spark.createDataFrame(right),
                            left_ts="ts", right_lo="lo", right_hi="hi",
                            by=["k"], bucket="1 hour").toPandas()
    got = sorted(zip(out.lv, out.rv))
    assert got == [(1, 100), (2, 100), (3, 200)]


def test_near_dup_clusters_components(spark):
    # two components {1,2,3} (chain) and {5,6}; 4 and 7 never appear
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    labels = xdedup.near_dup_clusters(pairs).toPandas()
    got = labels.set_index("id")["cluster"].to_dict()
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    xdedup.unpersist_all()


def test_dedup_by_pairs_keeps_min_and_unseen(spark):
    df = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 8)],
                               "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in xdedup.dedup_by_pairs(df, pairs).collect())
    assert kept == [1, 4, 5, 7]        # cluster reps + untouched rows
    xdedup.unpersist_all()


def test_simhash_dedup_matches_pairwise_clustering(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "an entirely different document about spark engines"),
        (4, "an entirely different document about spark engines"),
        (5, "short unique text nothing alike whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  xdedup.simhash_dedup(df, max_hamming=3).collect())
    # must equal clustering the explicit pair list
    pairs = xdedup.simhash_near_dup_pairs(df, max_hamming=3)
    expect = sorted(r.doc_id for r in xdedup.dedup_by_pairs(df, pairs).collect())
    assert kept == expect
    assert 3 in kept and 4 not in kept   # exact-dup group keeps min id
    assert 5 in kept
    xdedup.unpersist_all()


def test_near_dup_clusters_long_chain_converges_or_raises(spark):
    import pytest as _pytest
    # a 9-node path graph: diameter 8, needs several propagation rounds
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  "id_a long, id_b long")
    labels = xdedup.near_dup_clusters(chain).toPandas()
    assert set(labels["cluster"]) == {0}
    xdedup.unpersist_all()
    # the distributed fallback (forced via driver_edges_max=0) with an
    # under-provisioned max_iter must refuse, not silently split the chain;
    # the default driver union-find path has no iteration limit
    with _pytest.raises(RuntimeError, match="did not converge"):
        xdedup.near_dup_clusters(chain, max_iter=2, driver_edges_max=0)
    xdedup.unpersist_all()
    # and the fallback converges when provisioned
    labels2 = xdedup.near_dup_clusters(chain, driver_edges_max=0).toPandas()
    assert set(labels2["cluster"]) == {0}
    xdedup.unpersist_all()



def test_near_dup_clusters_plan_stays_flat_across_rounds(spark, monkeypatch):
    """The distributed fallback cuts lineage every round: the plan it
    checkpoints at round 10 is within 2x of round 2's (uncut, each round
    joins the previous labels twice and the plan grew ~2.3x per round)."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    frame_cls = type(chain)
    sizes = []
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        sizes.append(len(self._jdf.queryExecution().analyzed().toString()))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    labels = xdedup.near_dup_clusters(chain, driver_edges_max=0).toPandas()
    assert set(labels["cluster"]) == {0}
    # sizes[0] is the initial labels, sizes[k] round k's
    assert len(sizes) > 10
    assert sizes[10] <= 2 * sizes[2], sizes
    xdedup.unpersist_all()

class TestSampling:
    """Deterministic content-addressed sampling (extensions/sampling.py)."""

    def _docs(self, spark, n=2000):
        import pandas as pd
        import numpy as np
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(n, dtype="int64"),
            "lang": np.where(np.arange(n) % 4 == 0, "de", "en")}))

    def test_hash_sample_deterministic_and_proportional(self, spark):
        from arcticdb_spark.extensions.sampling import hash_sample
        df = self._docs(spark)
        a = sorted(r["doc_id"] for r in
                   hash_sample(df, "doc_id", 0.3).collect())
        b = sorted(r["doc_id"] for r in
                   hash_sample(df, "doc_id", 0.3).collect())
        assert a == b                      # replayable
        assert 0.2 < len(a) / 2000 < 0.4   # roughly proportional
        # a larger fraction is a SUPERSET (same permutation, higher cut)
        big = set(r["doc_id"] for r in
                  hash_sample(df, "doc_id", 0.6).collect())
        assert set(a) <= big

    def test_salt_changes_draw(self, spark):
        from arcticdb_spark.extensions.sampling import hash_sample
        df = self._docs(spark)
        a = set(r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect())
        b = set(r["doc_id"] for r in
                hash_sample(df, "doc_id", 0.3, salt=7).collect())
        assert a != b

    def test_assign_split_partitions_everything(self, spark):
        import pytest
        from arcticdb_spark.extensions.sampling import assign_split
        df = self._docs(spark)
        out = assign_split(df, "doc_id",
                           {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == 2000
        assert set(counts) == {"train", "val", "test"}
        assert counts["train"] > counts["val"]
        with pytest.raises(ValueError):
            assign_split(df, "doc_id", {"a": 0.9, "b": 0.2})

    def test_stratified_fractions(self, spark):
        from arcticdb_spark.extensions.sampling import stratified_hash_sample
        df = self._docs(spark)
        kept = stratified_hash_sample(df, "doc_id", "lang", {"en": 0.1},
                                      default_fraction=1.0)
        by_lang = {r["lang"]: r["n"] for r in
                   kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert by_lang["de"] == 500          # default 1.0 keeps all
        assert by_lang["en"] < 1500 * 0.25   # en sampled well below full


class TestRepetitionStats:
    def test_known_values(self, spark):
        from arcticdb_spark.extensions.text import repetition_stats
        df = spark.createDataFrame(
            [(1, "a a a a"),          # 4 tokens, 1 distinct
             (2, "a b c d"),          # all distinct
             (3, "x x y"),            # top=2/3
             (4, "   ")],             # empty after trim -> dropped
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert set(out) == {1, 2, 3}
        assert out[1]["dup_frac"] == 0.75 and out[1]["top_frac"] == 1.0
        assert out[2]["dup_frac"] == 0.0 and out[2]["top_frac"] == 0.25
        assert out[3]["n_tokens"] == 3 and out[3]["top_count"] == 2

    def test_case_insensitive_and_carry(self, spark):
        from arcticdb_spark.extensions.text import repetition_stats
        df = spark.createDataFrame([(1, "The the THE", "en")],
                                   "doc_id long, text string, lang string")
        r = repetition_stats(df, carry_cols=("lang",)).collect()[0]
        assert r["n_distinct"] == 1 and r["lang"] == "en"


class TestCentroidAssign:
    def test_self_assignment_and_determinism(self, spark):
        from arcticdb_spark.extensions.similarity import centroid_assign
        import random
        rnd = random.Random(7)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r for r in centroid_assign(df, k=4).collect()}
        assert len(out) == 40
        # content-spread seed: min-4 ids by md5(str(id)) — replay the rule
        import hashlib
        seed_ids = sorted(sorted(
            range(40),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:4])
        # a centroid is its own nearest centroid with cosine 1
        for cid in seed_ids:
            assert out[cid]["centroid_id"] == cid
            assert abs(out[cid]["cos"] - 1.0) < 1e-9
        # every assignment picks the max rounded cosine (brute check)
        import math
        cents = {i: rows[i][1] for i in seed_ids}

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return round(d / (math.sqrt(sum(x * x for x in a))
                              * math.sqrt(sum(y * y for y in b))), 6)
        for i, vec in rows:
            best = max(cents, key=lambda c: (cos(vec, cents[c]), -c))
            assert out[i]["centroid_id"] == best


class TestKMeans:
    def test_clusters_separate_blobs(self, spark):
        from arcticdb_spark.extensions.similarity import kmeans
        import random
        rnd = random.Random(3)
        rows = []
        # two tight blobs far apart; the md5 seed set for n=30, k=2 is
        # {6, 27} — one id in each blob, so Lloyd's must separate them
        for i in range(30):
            center = 10.0 if i % 2 == 0 else -10.0
            rows.append((i, [center + rnd.uniform(-0.5, 0.5) for _ in range(4)]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r["cluster"] for r in kmeans(df, k=2, iters=3).collect()}
        evens = {out[i] for i in range(0, 30, 2)}
        odds = {out[i] for i in range(1, 30, 2)}
        assert evens == {6} and odds == {27}

    def test_deterministic_across_runs(self, spark):
        from arcticdb_spark.extensions.similarity import kmeans
        import random
        rnd = random.Random(11)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(6)]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        r1 = sorted((r["vec_id"], r["cluster"]) for r in kmeans(df, k=4, iters=2).collect())
        r2 = sorted((r["vec_id"], r["cluster"]) for r in kmeans(df, k=4, iters=2).collect())
        assert r1 == r2
        assert len({c for _, c in r1}) > 1


class TestDupNgramFraction:
    def test_known_values(self, spark):
        from arcticdb_spark.extensions.dedup import duplicate_ngram_fraction
        shared = "one two three four five six seven eight"
        df = spark.createDataFrame(
            [(1, shared + " alpha"),
             (2, shared + " beta"),        # shares the leading 8-gram with 1
             (3, "totally different words here that never repeat at all x")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               duplicate_ngram_fraction(df, n=8).collect()}
        # docs 1/2: 2 grams each, the first ("one..eight") appears in both
        assert out[1]["n_grams"] == 2 and out[1]["n_dup_grams"] == 1
        assert out[1]["dup_ngram_frac"] == 0.5
        assert out[2]["dup_ngram_frac"] == 0.5
        assert out[3]["n_dup_grams"] == 0

    def test_short_docs_dropped(self, spark):
        from arcticdb_spark.extensions.dedup import duplicate_ngram_fraction
        df = spark.createDataFrame([(1, "too short"), (2, "a b c d e f g h")],
                                   "doc_id long, text string")
        out = duplicate_ngram_fraction(df, n=8).collect()
        assert {r["doc_id"] for r in out} == {2}


class TestDecontaminate:
    def test_flags_overlapping_docs(self, spark):
        from arcticdb_spark.extensions.dedup import decontaminate
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "prefix the quick brown fox jumps over the lazy dog"),
             (2, "completely clean text with no overlap whatsoever in it"),
             (3, "short doc")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               decontaminate(docs, bench, n=8).collect()}
        assert out[1]["contaminated"] and out[1]["n_contaminated"] >= 1
        assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0
        # sub-n docs produce zero grams but still appear, uncontaminated
        assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]


class TestPackChunks:
    def test_spans_match_pandas(self, spark):
        import numpy as np
        from arcticdb_spark.extensions.text import pack_chunks
        rng = np.random.default_rng(7)
        rows = [(i, " ".join(["w"] * int(rng.integers(0, 40))))
                for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in pack_chunks(df, 64).collect()}
        cum = 0
        for i, text in rows:
            n = len(text.split()) if text.strip() else 0
            start, cum = cum, cum + n
            first = start // 64
            last = (cum - 1) // 64 if n > 0 else first
            assert out[i]["n_tokens"] == n, i
            assert out[i]["first_chunk"] == first, i
            assert out[i]["last_chunk"] == last, i
            assert out[i]["split"] == (first != last), i


class TestPii:
    def test_scan_and_redact(self, spark):
        from arcticdb_spark.extensions.text import pii_redact, pii_scan
        df = spark.createDataFrame(
            [(1, "mail me at a.b-c@example.co.uk or 10.1.2.3 thanks"),
             (2, "no pii here at all")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in pii_scan(df).collect()}
        assert out[1]["email_count"] == 1 and out[1]["ipv4_count"] == 1
        assert out[2]["email_count"] == 0 and out[2]["ipv4_count"] == 0
        red = {r["doc_id"]: r["text"] for r in pii_redact(df).collect()}
        assert "<EMAIL>" in red[1] and "<IPV4>" in red[1]
        assert "@" not in red[1]
        assert red[2] == "no pii here at all"


class TestPrefixSum:
    def test_matches_pandas_cumsum(self, spark):
        import numpy as np
        from arcticdb_spark.plans.rowid import prefix_sum
        rng = np.random.default_rng(3)
        vals = rng.integers(0, 100, 500).tolist()
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k long, v long")
        out = {r["k"]: r["__prefix_sum__"]
               for r in prefix_sum(df.repartition(8), "v", ["k"]).collect()}
        cum = 0
        for i, v in enumerate(vals):
            cum += v
            assert out[i] == cum, i


class TestMediaFrames:
    def test_frame_hashes_deterministic_and_sliced(self, spark):
        import hashlib
        from arcticdb_spark.extensions.multimodal import (make_demo_media,
                                                          sample_frames)
        media = make_demo_media(spark, 30)
        fr = sample_frames(media, every_ms=1000, frame_bytes=16)
        rows = fr.collect()
        assert rows, "audio/video rows must produce frames"
        payloads = {r["media_id"]: bytes(r["content"])
                    for r in media.collect()}
        for r in rows:
            payload = payloads[r["media_id"]]
            off = (r["frame_idx"] * 16) % len(payload)
            expected = payload[off:off + 16]
            assert bytes(r["frame"]) == expected
            assert r["frame_sha"] == hashlib.sha256(expected).hexdigest()
        # images never produce frames
        kinds = {r["kind"] for r in rows}
        assert kinds <= {"audio", "video"}

    def test_media_stats(self, spark):
        from arcticdb_spark.extensions.multimodal import (make_demo_media,
                                                          media_stats)
        out = {r["kind"]: r for r in media_stats(make_demo_media(spark, 30)).collect()}
        assert set(out) == {"image", "audio", "video"}
        assert all(r["total_bytes"] > 0 for r in out.values())


def _brute_force_jaccard(pdf, k, threshold):
    """Every pair's k-token-shingle Jaccard in plain Python, with the
    operator's tokenization (trim, lowercase, split on whitespace; a doc
    shorter than k tokens is one shingle of all its tokens)."""
    import itertools
    import re

    def shingles(text):
        t = text.lower().strip(" ")
        toks = re.split(r"[ \t\n\x0b\f\r]+", t) if t else []
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    sets = {int(i): shingles(t) for i, t in zip(pdf.doc_id, pdf.text)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        score = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if score >= threshold:
            out[(a, b)] = score
    return out


@pytest.mark.parametrize("k,threshold", [(2, 0.5), (3, 0.5), (2, 0.3)])
def test_jaccard_matches_brute_force(spark, k, threshold):
    # the size-bound prefilter and |A|+|B|-|A∩B| union must keep exactly
    # the pairs, and the scores, of an all-pairs Jaccard (16 one-row bands
    # make every pair sharing any shingle a candidate)
    docs = _docs(spark)
    out = xdedup.jaccard_near_dup_pairs(docs, threshold=threshold,
                                        num_hashes=16, bands=16,
                                        k=k).toPandas()
    got = {(int(a), int(b)): j for a, b, j in
           zip(out.id_a, out.id_b, out.jaccard)}
    want = _brute_force_jaccard(docs.toPandas(), k, threshold)
    assert want and got.keys() == want.keys()
    for pair, score in want.items():
        assert got[pair] == pytest.approx(score, abs=1e-6), pair


def test_shuffle_deterministic(spark):
    from arcticdb_spark.extensions import sampling as xsamp
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = xsamp.shuffle_deterministic(df, "doc_id", n_shards=4).toPandas()
    # deterministic: same keys on a re-run
    out2 = xsamp.shuffle_deterministic(df, "doc_id", n_shards=4).toPandas()
    assert out.sort_values("doc_id")["shuffle_key"].tolist() == \
        out2.sort_values("doc_id")["shuffle_key"].tolist()
    # permutation keys are distinct and shards roughly balanced
    assert out["shuffle_key"].nunique() == 1000
    counts = out["shard"].value_counts()
    assert set(counts.index) == {0, 1, 2, 3}
    assert counts.min() > 150
    # salting re-draws a different permutation
    out3 = xsamp.shuffle_deterministic(df, "doc_id", n_shards=4,
                                       salt=7).toPandas()
    assert out3.sort_values("doc_id")["shuffle_key"].tolist() != \
        out.sort_values("doc_id")["shuffle_key"].tolist()
