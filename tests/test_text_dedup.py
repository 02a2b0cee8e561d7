"""Text analysis, dedup, similarity, multimodal plumbing tests — numpy
oracles for the sketches, exact expectations for the Catalyst paths."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from torchestra_spark.functions import dedup as D
from torchestra_spark.functions import multimodal as M
from torchestra_spark.functions import similarity as S
from torchestra_spark.functions import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------------------------------------------ text
def test_token_count(spark, docs):
    got = docs.select("doc_id", T.token_count(F.col("text")).alias("n")).toPandas()
    exp = docs.select("doc_id", "text").toPandas()
    exp["n"] = exp["text"].map(lambda t: len(t.split()))
    m = got.merge(exp, on="doc_id")
    assert (m["n_x"] == m["n_y"]).all()


def test_quality_and_ratios(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat and the dog sat in a field of grass",
                "!!! ??? ;;; ...",
                "",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        "doc_id",
        T.punct_ratio(F.col("text")).alias("p"),
        T.stopword_ratio(F.col("text")).alias("s"),
        T.quality_score(F.col("text")).alias("q"),
    ).orderBy("doc_id").collect()
    assert out[0]["p"] == 0.0
    # 'the','and','the','in','a','of' = 6 stopword hits of 11 words
    assert np.isclose(out[0]["s"], 6 / 11)
    assert out[0]["q"] > out[1]["q"] >= out[2]["q"] or out[0]["q"] > out[1]["q"]
    assert out[1]["p"] > 0.5


def test_lang_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat and the dog is in it for that",
                "der hund und die katze ist nicht mit den",
                "le chat et la pour que les des une est",
                "zzz qqq xxx",
            ],
        }
    )
    out = (
        spark.createDataFrame(pdf)
        .select("doc_id", T.lang_id(F.col("text")).alias("lang"))
        .orderBy("doc_id")
        .collect()
    )
    assert [r["lang"] for r in out] == ["en", "de", "fr", "und"]


def test_shingles(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["a b c d"]}))
    got = df.select(T.shingles(F.col("text"), 2).alias("s")).collect()[0]["s"]
    assert sorted(got) == ["a b", "b c", "c d"]
    df2 = spark.createDataFrame(pd.DataFrame({"text": ["a"]}))
    assert df2.select(T.shingles(F.col("text"), 3).alias("s")).collect()[0]["s"] == []


# ------------------------------------------------------------------ dedup
def test_exact_dedup(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["Hello  World", "hello world", "other doc", "  HELLO WORLD ", "other doc"],
        }
    )
    df = spark.createDataFrame(pdf)
    kept = D.exact_dedup(df, "text", "doc_id").select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(kept) == [1, 3]
    marked = D.mark_exact_dups(df, "text", "doc_id").toPandas()
    assert marked.set_index("doc_id")["is_duplicate"].to_dict() == {
        1: False, 2: True, 3: False, 4: True, 5: True,
    }


def _numpy_minhash(texts, k, n, seed):
    a, b = D._minhash_params(k, seed)
    out = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.lower().split() if w]
        sh = {" ".join(ws[j : j + n]) for j in range(max(0, len(ws) - n + 1))}
        out[i] = sh
    return out


def test_minhash_similar_docs_collide(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [base, base + " extra", "completely different words entirely here now", base]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    pairs = D.minhash_dedup(df, "text", "doc_id", k=64, bands=16, shingle_n=2, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == 1.0  # identical docs
    assert (0, 1) in got and got[(0, 1)] >= 0.5  # near-dup
    assert not any(2 in p for p in got)  # unrelated doc never pairs


def test_minhash_signature_matches_numpy(spark):
    texts = ["a b c d e f", "a b c d e g"]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1], "text": texts}))
    sigs = {
        r["doc_id"]: np.array(r["signature"])
        for r in D.minhash_signatures(df, "text", "doc_id", k=32, shingle_n=2, seed=1).collect()
    }
    # estimated jaccard from signatures ~ true jaccard (5 shared of 5+5-4... )
    sh0 = {"a b", "b c", "c d", "d e", "e f"}
    sh1 = {"a b", "b c", "c d", "d e", "e g"}
    true_j = len(sh0 & sh1) / len(sh0 | sh1)
    est = (sigs[0] == sigs[1]).mean()
    assert abs(est - true_j) < 0.25


def test_simhash_and_near_dups(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "one two three four five six seven eight",
    ]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": texts}))
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash64(df, "text", "doc_id").collect()}
    ham01 = bin((sh[0] ^ sh[1]) & ((1 << 64) - 1)).count("1")
    ham02 = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    assert ham01 < ham02
    # multi-table rotation blocking finds the near pair but not the far one
    pairs = D.simhash_near_dups(
        df, "text", "doc_id", max_hamming=ham01, prefix_bits=4, tables=16
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": ["x y z w"], "b": ["x y z q"]})
    )
    got = df.select(D.ngram_jaccard(F.col("a"), F.col("b"), 2).alias("j")).collect()[0]["j"]
    # bigrams a: {x y, y z, z w}; b: {x y, y z, z q} -> 2/4
    assert np.isclose(got, 0.5)


# -------------------------------------------------------------- similarity
def test_cosine_matches_numpy(spark, embs):
    q = np.asarray(embs.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    got = S.brute_force_topk(embs, "embedding", q, k=5).toPandas()
    pdf = embs.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    sims = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -sims))[:5]
    exp_ids = pdf["vec_id"].to_numpy()[order]
    assert got["vec_id"].tolist() == exp_ids.tolist()
    assert np.allclose(got["cos_sim"].to_numpy(), sims[order], atol=1e-9)


def test_ann_finds_exact_neighbor(spark, embs):
    q = np.asarray(embs.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    ann = S.ann_topk(embs, "embedding", q, k=3, n_planes=8, n_probes=4)
    got = ann.toPandas()
    assert got.iloc[0]["vec_id"] == 0  # the query vector itself
    assert np.isclose(got.iloc[0]["cos_sim"], 1.0)


def test_pairwise_topk(spark, embs):
    out = S.pairwise_topk_per_row(embs.limit(50), "embedding", "vec_id", k=2, n_planes=4)
    pdf = out.toPandas()
    assert (pdf.groupby("id_a").size() <= 2).all()
    assert (pdf["cos_sim"] <= 1.0 + 1e-9).all()


# -------------------------------------------------------------- multimodal
def test_multimodal_decode_plumbing(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "payload": [b"abc123", b"", b"zzzzzz\x00\xff", None]}
    )
    df = M.attach_media_metadata(spark.createDataFrame(pdf), kind="image", fmt="png")
    assert df.schema["media"].dataType.simpleString().startswith("struct<kind:string")
    out = M.decode_features(df, n_features=16).toPandas().set_index("doc_id")
    assert all(len(v) == 16 for v in out["features"])
    exp = M._fake_decode(b"abc123", 16)
    assert np.allclose(np.asarray(out.loc[1, "features"]), exp)
    assert np.allclose(np.asarray(out.loc[2, "features"]), np.zeros(16))
    assert np.array_equal(np.asarray(out.loc[4, "features"]), np.zeros(16))  # NULL
    # the real decoder gives the same zeros for empty and NULL payloads
    real = M.decode_features(df.filter("doc_id IN (2, 4)"), n_features=16, decoder="real")
    got = {r["doc_id"]: r["features"] for r in real.collect()}
    assert sorted(got) == [2, 4]
    assert all(np.array_equal(np.asarray(v), np.zeros(16)) for v in got.values())


def test_multimodal_real_decoder_unsupported_format(spark):
    # jpeg/video still raise at the PIL/ffmpeg integration point
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "payload": [b"\xff\xd8\xff jpeg junk"]}))
    with pytest.raises(Exception):  # NotImplementedError surfaces via Py4J
        M.decode_features(df, decoder="real").collect()


def _png_with_filters(px: np.ndarray, filters) -> bytes:
    """Encode (h, w, c) uint8 with an EXPLICIT per-row filter type —
    computes the filtered bytes by inverting the decoder's recurrences,
    so the test exercises every unfilter path against known pixels."""
    import struct
    import zlib

    h, w, c = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    flat = px.reshape(h, w * c).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        row, f = flat[y], filters[y]
        left = np.concatenate([np.zeros(c, np.int64), row[:-c]]) if w * c > c else np.zeros_like(row)
        upleft = np.concatenate([np.zeros(c, np.int64), prev[:-c]]) if w * c > c else np.zeros_like(row)
        if f == 0:
            enc = row
        elif f == 1:
            enc = (row - left) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc = (row - (left + prev) // 2) % 256
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            enc = (row - pred) % 256
        raw += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = row
    return (
        M.PNG_MAGIC
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + M._png_chunk(b"IEND", b"")
    )


def test_png_roundtrip_exact():
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 3, 3), dtype=np.uint8)
    got = M.decode_png_pixels(M.encode_png(px))
    assert np.array_equal(got, px)
    lum = M.decode_png(M.encode_png(px))
    rgb = px.astype(np.float32) / 255.0
    exp = rgb[:, :, 0] * 0.299 + rgb[:, :, 1] * 0.587 + rgb[:, :, 2] * 0.114
    assert np.allclose(lum, exp, atol=1e-6)


def test_png_all_filter_types_and_color_types():
    """Every scanline filter (None/Sub/Up/Average/Paeth) and color type
    (gray / gray+alpha / RGB / RGBA) unfilters back to the exact pixels."""
    rng = np.random.RandomState(11)
    for c in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(5, 4, c), dtype=np.uint8)
        payload = _png_with_filters(px, filters=[0, 1, 2, 3, 4])
        got = M.decode_png_pixels(payload)
        if c == 1:
            exp = np.repeat(px, 3, axis=2)
        elif c == 2:
            exp = np.repeat(px[:, :, :1], 3, axis=2)
        elif c == 4:
            exp = px[:, :, :3]
        else:
            exp = px
        assert np.array_equal(got, exp), f"channels={c}"


def test_png_unsupported_variants():
    import struct
    import zlib

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = M.encode_png(px)
    # 16-bit depth
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = M.PNG_MAGIC + M._png_chunk(b"IHDR", ihdr16) + good[8 + 25:]
    with pytest.raises(NotImplementedError, match="8-bit"):
        M.decode_png_pixels(bad)
    # interlaced
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    bad = M.PNG_MAGIC + M._png_chunk(b"IHDR", ihdr_i) + good[8 + 25:]
    with pytest.raises(NotImplementedError, match="interlaced"):
        M.decode_png_pixels(bad)
    # palette
    ihdr_p = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    bad = M.PNG_MAGIC + M._png_chunk(b"IHDR", ihdr_p) + good[8 + 25:]
    with pytest.raises(NotImplementedError, match="palette"):
        M.decode_png_pixels(bad)
    with pytest.raises(ValueError, match="not a PNG"):
        M.decode_png_pixels(b"BMnot a png")


def test_real_decode_features_png(spark):
    """decode_features(decoder='real') sniffs PNG by magic and pools the
    decoded luminance — a white PNG pools to 1.0 in every bucket."""
    px = np.full((4, 4, 3), 255, dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [M.encode_png(px)]})
    )
    rows = {
        r["doc_id"]: r["features"]
        for r in M.decode_features(df, n_features=4, decoder="real").collect()
    }
    assert np.allclose(rows[1], [1.0] * 4, atol=1e-5)


def test_bmp_roundtrip_exact():
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 3, 3), dtype=np.uint8)  # w=3 -> row padding
    lum = M.decode_bmp(M.encode_bmp(px))
    bgr = px.astype(np.float32) / 255.0
    exp = bgr[:, :, 0] * 0.299 + bgr[:, :, 1] * 0.587 + bgr[:, :, 2] * 0.114
    assert lum.shape == (5, 3)
    assert np.allclose(lum, exp, atol=1e-6)


def test_wav_roundtrip_exact():
    t = np.linspace(0, 1, 160)
    samples = 0.5 * np.sin(2 * np.pi * 5 * t)
    got = M.decode_wav(M.encode_wav(samples, sample_rate=16000))
    pcm16 = (np.clip(samples, -1, 1) * 32767.0).astype("<i2")
    assert np.allclose(got, pcm16.astype(np.float32) / 32768.0)


def test_real_decode_features_golden(spark):
    """Exact-golden: mean-pooled luminance / PCM buckets match numpy."""
    px = np.full((4, 4, 3), 255, dtype=np.uint8)  # white image -> luminance 1.0
    wav = M.encode_wav(np.ones(64) * 0.25)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [M.encode_bmp(px), wav]})
    )
    rows = {r["doc_id"]: r["features"] for r in M.decode_features(df, n_features=4, decoder="real").collect()}
    assert np.allclose(rows[1], [1.0] * 4, atol=1e-5)
    exp_wav = float(np.int16(0.25 * 32767) / 32768.0)
    assert np.allclose(rows[2], [exp_wav] * 4, atol=1e-6)
    # pooling golden on a ramp signal
    ramp = M._pool_features(np.arange(8, dtype=np.float64), 4)
    assert np.allclose(ramp, [0.5, 2.5, 4.5, 6.5])
    # n > signal length: empty buckets are zero (floor edges place the
    # single element in the last bucket: [0,0),[0,0),[0,1))
    short = M._pool_features(np.array([2.0]), 3)
    assert short.tolist() == [0.0, 0.0, 2.0]


def test_frame_sampling(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "payload": [bytes(range(100)), None, b""]})
    )
    all_rows = M.frame_sample_stub(df, every_n=10, frame_features=8).toPandas()
    out = all_rows[all_rows["doc_id"] == 1]
    assert len(out) == 10
    assert out["frame_idx"].tolist() == list(range(10))
    assert all(len(v) == 8 for v in out["features"])
    # NULL and empty payloads each fabricate one frame, index 0
    for doc in (2, 3):
        rows = all_rows[all_rows["doc_id"] == doc]
        assert rows["frame_idx"].tolist() == [0], doc
        assert np.allclose(np.asarray(rows["features"].iloc[0]), M._fake_decode(b"\x00", 8))


def test_ivf_ann(spark, embs):
    from torchestra_spark.functions import similarity as S2

    C = S2.train_ivf_centroids(embs, "embedding", n_centroids=8, sample=500, seed=3)
    assert C.shape == (8, 64)
    q = np.asarray(embs.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    got = S2.ivf_topk(embs, "embedding", q, C, k=3, n_probes=2).toPandas()
    assert got.iloc[0]["vec_id"] == 0 and np.isclose(got.iloc[0]["cos_sim"], 1.0)
    # assignment is total and deterministic
    a1 = S2.ivf_assign(embs, "embedding", C).select("vec_id", "ivf_cell").toPandas()
    a2 = S2.ivf_assign(embs, "embedding", C).select("vec_id", "ivf_cell").toPandas()
    m = a1.merge(a2, on="vec_id")
    assert (m["ivf_cell_x"] == m["ivf_cell_y"]).all()
    assert a1["ivf_cell"].between(0, 7).all()


def test_lsh_bucket_cap_degenerate_corpus(spark):
    """1k identical docs would generate ~500k candidate pairs per band
    without the cap; with it, candidate generation completes with zero
    pairs from the mega-bucket while a normal corpus is unaffected."""
    n = 1000
    degenerate = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "text": ["same boilerplate text here"] * n})
    )
    sigs = D.minhash_signatures(degenerate, "text", "doc_id", k=16, shingle_n=2)
    capped = D.lsh_candidate_pairs(sigs, "doc_id", bands=8, max_bucket_size=100)
    assert capped.count() == 0  # mega-bucket dropped, no quadratic pair set

    # normal corpus: cap far above bucket sizes -> candidates unchanged
    texts = [f"unique document number {i} with words {i * 7} {i * 13}" for i in range(50)]
    texts[10] = texts[40]  # one planted dup pair
    normal = spark.createDataFrame(pd.DataFrame({"doc_id": range(50), "text": texts}))
    nsigs = D.minhash_signatures(normal, "text", "doc_id", k=16, shingle_n=2)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(nsigs, "doc_id", bands=8, max_bucket_size=None).collect()
    }
    with_cap = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(nsigs, "doc_id", bands=8, max_bucket_size=100).collect()
    }
    assert with_cap == uncapped
    assert (10, 40) in with_cap


def test_minhash_dedup_verified_matches_exact_jaccard(spark):
    """Verified pipeline output == exact all-pairs jaccard >= threshold."""
    texts = [f"doc {i} alpha beta gamma delta {i * 3} {i * 11}" for i in range(30)]
    texts[5] = texts[20] + " tail"  # near-dup pair
    texts[7] = texts[7]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(30), "text": texts}))
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_verified(
            df, "text", "doc_id", k=64, bands=32, shingle_n=2, threshold=0.6
        ).collect()
    }
    # numpy oracle: exact bigram jaccard over all pairs
    def bigrams(t):
        ws = [w for w in t.lower().split() if w]
        return set(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))

    exp = set()
    for i in range(30):
        for j in range(i + 1, 30):
            a, b = bigrams(texts[i]), bigrams(texts[j])
            u = a | b
            if u and len(a & b) / len(u) >= 0.6:
                exp.add((i, j))
    assert got == exp
    assert (5, 20) in exp


def test_ann_full_probe_equals_brute_force(spark, embs):
    q = [r["embedding"] for r in embs.orderBy("vec_id").limit(1).collect()][0]
    exact = [r["vec_id"] for r in S.brute_force_topk(embs, "embedding", q, k=5).collect()]
    full = [
        r["vec_id"]
        for r in S.ann_topk(embs, "embedding", q, k=5, n_planes=4, n_probes=16).collect()
    ]
    assert full == exact


def test_probe_masks_ordering():
    margins = np.array([0.1, 5.0, 0.2])
    masks = S._probe_masks(margins, 8).tolist()
    assert masks[0] == 0  # home bucket first
    assert masks[1] == 1  # cheapest single flip (plane 0, margin .1)
    assert masks[2] == 4  # next (plane 2, margin .2)
    assert masks[3] == 5  # cheapest 2-bit combo (.1+.2) before plane 1 (5.0)
    assert len(masks) == 8 and len(set(masks)) == 8


def test_embedding_near_dups_exact_and_lsh(spark):
    """Planted near-identical vectors: exact finds exactly the planted
    pairs; LSH candidates (multi-table) find the near-identical pair and
    are a subset of exact."""
    rng = np.random.RandomState(5)
    X = rng.randn(40, 16)
    X[7] = X[3] + rng.randn(16) * 0.01      # near-identical pair (3, 7)
    X[25] = -X[12]                           # anti-parallel: NOT a near-dup
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": [row.tolist() for row in X]})
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dups(df, "embedding", "vec_id", 0.95, method="exact").collect()
    }
    # numpy oracle
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn.T
    exp = {
        (i, j) for i in range(40) for j in range(i + 1, 40) if sims[i, j] >= 0.95
    }
    assert exact == exp and (3, 7) in exact
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dups(
            df, "embedding", "vec_id", 0.95, method="lsh", n_planes=6, tables=8
        ).collect()
    }
    assert lsh <= exact
    assert (3, 7) in lsh  # ~identical vectors land together in >=1 of 8 tables
    # an empty frame gives an empty result on every path
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for method in ("exact", "lsh"):
        assert S.embedding_near_dups(empty, "embedding", "vec_id", method=method).collect() == []
    assert S.pairwise_topk_per_row(empty, "embedding", "vec_id").collect() == []
    # a NULL first vector reaches the stage's named error
    nullfirst = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="ValueError: lsh_buckets_multi: 1 NULL embedding"):
        S.embedding_near_dups(nullfirst, "embedding", "vec_id").collect()


def test_lsh_buckets_multi_bit_identical_to_per_table(spark):
    """lsh_buckets_multi's one-pass buckets must be BIT-identical per
    table to T separate lsh_buckets calls — the claim that lets
    embedding_near_dups swap T unioned scans for one Arrow stage."""
    rng = np.random.RandomState(11)
    X = rng.randn(30, 12)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(30), "embedding": [row.tolist() for row in X]})
    )
    seeds = [42 + 1000 * t for t in range(4)]
    multi = {
        r["vec_id"]: r["buckets"]
        for r in S.lsh_buckets_multi(df, "embedding", 12, 8, seeds).collect()
    }
    for t, s in enumerate(seeds):
        single = {
            r["vec_id"]: r["bucket"]
            for r in S.lsh_buckets(df, "embedding", 12, 8, s).collect()
        }
        assert {i: b[t] for i, b in multi.items()} == single


def test_minhash_simhash_empty_doc_segments(spark):
    """Batch-vectorized sketches handle empty docs anywhere in the batch
    (leading / interior / trailing reduceat segments)."""
    texts = ["", "alpha beta gamma delta", "", "one two three four", "", None, "solo"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(7), "text": texts}), "doc_id long, text string"
    ).repartition(4)
    # plus a partition holding only NULL / empty / one-word docs
    df = df.union(spark.createDataFrame(
        [(7, None), (8, ""), (9, "lone")], "doc_id long, text string").coalesce(1))
    sigs = {
        r["doc_id"]: list(r["signature"])
        for r in D.minhash_signatures(df, "text", "doc_id", k=8, shingle_n=2).collect()
    }
    # NULL text, empty text and a doc shorter than one shingle all get
    # the empty signature
    empty = [0, 2, 4, 5, 6, 7, 8, 9]
    assert all(sigs[i] == [D._MERSENNE] * 8 for i in empty)
    assert sigs[1] != sigs[3] and max(sigs[1]) < D._MERSENNE
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash64(df, "text", "doc_id").collect()}
    assert all(sh[i] == 0 for i in (0, 2, 4, 5, 7, 8))
    assert sh[1] != 0 and sh[3] != 0 and sh[6] != 0
    # partitioning invariance: same results in a single partition
    sigs1 = {
        r["doc_id"]: list(r["signature"])
        for r in D.minhash_signatures(
            df.coalesce(1), "text", "doc_id", k=8, shingle_n=2
        ).collect()
    }
    assert sigs1 == sigs


def test_probe_masks_wide_tables():
    """Small probe counts only enumerate the powerset of the n_probes-1
    cheapest planes (works at n_planes=48); infeasible requests raise
    instead of exploding."""
    margins = np.abs(np.random.RandomState(0).randn(48))
    masks = S._probe_masks(margins, 4).tolist()
    assert masks[0] == 0 and len(masks) == 4 and len(set(masks)) == 4
    # here the 3 cheapest single flips happen to be the exact top-3
    order = np.argsort(margins)[:3]
    assert set(masks[1:]) == {1 << int(i) for i in order}
    # exact cost ranking: a 2-bit flip of two near planes outranks a
    # distant single flip, even at wide n_planes (no full enumeration)
    m2 = np.full(48, 10.0)
    m2[5], m2[17] = 0.01, 0.02
    masks2 = S._probe_masks(m2, 4).tolist()
    assert masks2 == [0, 1 << 5, 1 << 17, (1 << 5) | (1 << 17)]
    with pytest.raises(ValueError, match="infeasible"):
        S._probe_masks(margins, 100)


def test_probe_masks_exact_vs_enumeration():
    """The powerset-of-cheapest-planes path returns EXACTLY the globally
    cheapest masks (cost-set equality vs brute-force enumeration)."""
    for seed, n_probes in [(7, 6), (11, 9), (13, 2)]:
        margins = np.abs(np.random.RandomState(seed).randn(12))
        full = np.arange(1 << 12)
        bits = (full[:, None] >> np.arange(12)) & 1
        cost = bits @ margins
        want = np.sort(cost)[:n_probes]
        got_masks = S._probe_masks(margins, n_probes)
        gbits = (got_masks[:, None] >> np.arange(12)) & 1
        assert np.allclose(np.sort(gbits @ margins), want)


def test_embedding_near_dups_degenerate_cap(spark):
    """1k near-identical embeddings collapse into one sign-pattern
    bucket per table — without the cap that's ~500k pairs * tables;
    with it the mega-bucket is dropped and the job completes with zero
    candidates, while a normal corpus is unaffected by a generous cap."""
    n = 1000
    base = np.ones(8)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [base.tolist()] * n})
    )
    capped = S.embedding_near_dups(
        df, "embedding", "vec_id", 0.9, method="lsh", n_planes=4, tables=2,
        max_bucket_size=100,
    )
    assert capped.count() == 0
    # normal corpus: cap far above bucket sizes -> same result as uncapped
    rng = np.random.RandomState(5)
    X = rng.randn(40, 16)
    X[7] = X[3] + rng.randn(16) * 0.01
    ndf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": [r.tolist() for r in X]})
    )
    kw = dict(method="lsh", n_planes=6, tables=8)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dups(ndf, "embedding", "vec_id", 0.95,
                                       max_bucket_size=None, **kw).collect()
    }
    with_cap = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dups(ndf, "embedding", "vec_id", 0.95,
                                       max_bucket_size=100, **kw).collect()
    }
    assert with_cap == uncapped and (3, 7) in with_cap


def test_minhash_dedup_releases_signature_cache(spark, monkeypatch):
    """Every DataFrame persisted inside the minhash pipelines is
    unpersisted before return — no executor storage leaked per call."""
    from pyspark.sql import DataFrame

    persisted, unpersisted = [], []
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def track_p(self, *a, **k):
        persisted.append(id(self))
        return orig_p(self, *a, **k)

    def track_u(self, *a, **k):
        unpersisted.append(id(self))
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", track_p)
    monkeypatch.setattr(DataFrame, "unpersist", track_u)
    texts = [f"doc number {i} alpha beta {i * 3}" for i in range(20)]
    texts[4] = texts[9]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(20), "text": texts}))
    out = D.minhash_dedup(df, "text", "doc_id", k=16, bands=8, shingle_n=2, threshold=0.6)
    assert (4, 9) in {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert set(persisted) <= set(unpersisted)
    persisted.clear(); unpersisted.clear()
    out2 = D.minhash_dedup_verified(
        df, "text", "doc_id", k=16, bands=8, shingle_n=2, threshold=0.6
    )
    assert (4, 9) in {(r["id_a"], r["id_b"]) for r in out2.collect()}
    assert set(persisted) <= set(unpersisted)


def test_simhash_tokens_near_dups_planted(spark):
    """Identical / one-token-off token sequences are found by the
    blocked hamming join; hamming values match a per-pair numpy check."""
    rng = np.random.RandomState(6)
    docs = [rng.randint(0, 50257, size=40).tolist() for _ in range(30)]
    docs[12] = list(docs[3])           # identical -> hamming 0
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(30), "tokens": docs})
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_tokens_near_dups(
            df, "tokens", "doc_id", max_hamming=8, prefix_bits=16, tables=4
        ).collect()
    }
    assert got.get((3, 12)) == 0
    # every reported pair's hamming agrees with the sketches
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash_tokens(df, "tokens", "doc_id").collect()}
    for (a, b), h in got.items():
        assert bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") == h <= 8


def test_ann_recall_floor(spark):
    """Recall@10 floor on a planted-cluster corpus (the geometry ANN is
    FOR — the sandbox's synthetic embeddings are isotropic noise, where
    recall is intrinsically bounded by the fraction of corpus probed):
    multi-table LSH and multi-probe IVF both >= 0.9 at production
    configs.  Fully seeded -> deterministic."""
    rng = np.random.RandomState(9)
    centers = rng.randn(50, 32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.repeat(centers, 10, axis=0) + 0.15 * rng.randn(500, 32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(500), "embedding": [r.tolist() for r in X]})
    ).cache()
    df.count()
    C = S.train_ivf_centroids(df, "embedding", n_centroids=16, sample=500, seed=42)
    r = S.recall_at_k(
        df, "embedding", "vec_id", k=10,
        search_fns={
            "lsh": lambda d, q: S.ann_topk(d, "embedding", q, k=10, n_planes=6,
                                           n_probes=4, tables=8),
            "ivf": lambda d, q: S.ivf_topk(d, "embedding", q, C, k=10, n_probes=4),
        },
        n_queries=20,
    )
    # measured 0.95 / 0.925 under the r7 deterministic hash-order query
    # sample (the rng-permutation picks this replaced measured slightly
    # different query sets; the geometry floor is what matters)
    assert r["lsh"] >= 0.9 and r["ivf"] >= 0.9
    df.unpersist()


def test_winnow_guarantee_and_pure_python_parity(spark):
    # winnowing guarantee: two docs sharing a run of >= w+k-1 tokens
    # share at least one fingerprint; disjoint-vocab docs share none.
    k, w = 3, 4
    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    rows = [
        (1, "one two three " + shared_run + " ten eleven"),
        (2, shared_run + " apple banana cherry"),
        (3, "xx yy zz qq rr ss tt uu vv ww"),
        (4, "ab"),       # < k tokens: no grams, no fingerprints
        (5, ""),         # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id", T.winnow_fingerprints(F.col("text"), k=k, w=w).alias("fps")
    ).collect()
    fps = {r.doc_id: set(r.fps) for r in out}
    assert fps[1] & fps[2], "docs sharing a w+k-1 run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert fps[4] == set() and fps[5] == set()

    # pure-python reimplementation parity (independent of Spark AND of
    # the DuckDB oracle): same modular arithmetic, same selection rule
    M, P = T.WINNOW_MOD, T.WINNOW_PRIME

    def py_winnow(text):
        toks = [t for t in text.lower().split() if t]
        hs = []
        for tok in toks:
            acc = 0
            for ch in tok:
                acc = (acc * 31 + ord(ch)) % M
            hs.append(acc)
        if len(hs) < k:
            return set()
        gs = []
        for i in range(len(hs) - k + 1):
            g = hs[i]
            for h in hs[i + 1 : i + k]:
                g = (g * P + h) % M
            gs.append(g)
        n_win = max(len(gs) - w + 1, 1)
        return {min(gs[i : i + w]) for i in range(n_win)}

    for doc_id, text in rows:
        assert fps[doc_id] == py_winnow(text), doc_id


def test_winnow_near_dups_planted(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"noise{i} filler{i} pad{i} junk{i} blah{i} word{i}") for i in range(20)]
    rows += [(100, base), (101, base + " extra trailing tokens here"),
             (102, "prefix tokens first " + base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.winnow_near_dups(df, "text", "doc_id", k=3, w=4, min_shared=2).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert {(100, 101), (100, 102), (101, 102)} <= pairs
    assert all(a >= 100 and b >= 100 for a, b in pairs), "noise docs must not pair"
    for r in out:
        assert 0.0 < r.overlap <= 1.0 and r.shared >= 2


def test_winnow_near_dups_fp_freq_cap(spark):
    # 30 identical docs -> every fingerprint appears in 30 docs; a cap
    # of 10 removes them all from pair-gen (boilerplate guard), while
    # cap=None yields all 435 pairs
    rows = [(i, "same boilerplate text repeated across the corpus") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.winnow_near_dups(df, "text", "doc_id", k=3, w=4, min_shared=1, max_fp_freq=10)
    assert capped.count() == 0
    full = D.winnow_near_dups(df, "text", "doc_id", k=3, w=4, min_shared=1, max_fp_freq=None)
    assert full.count() == 30 * 29 // 2


def test_repetition_ratio_and_gopher_filter(spark):
    rows = [
        (1, "the quick brown foxes jumped over the fence and the hounds chased them through that field today"),  # clean
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),  # degenerate
        (3, "short text"),  # under min_tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.repetition_ratio(F.col("text"), 3).alias("rep"),
            T.gopher_filter(F.col("text")).alias("keep"),
        ).collect()
    }
    # doc 1: 16 tokens, all 3-grams distinct -> rep 0, stopword-rich -> keep
    assert out[1].rep == 0.0 and out[1].keep
    # doc 2: 18 identical tokens -> 16 identical 3-grams -> rep 15/16
    assert abs(out[2].rep - 15.0 / 16.0) < 1e-9 and not out[2].keep
    assert out[3].rep == 0.0 and not out[3].keep


def test_quantize_int8_roundtrip_and_l2_normalize(spark):
    import math

    rows = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [0.0, 0.0, 0.0, 0.0]),       # zero vector
        (3, [3.0, 4.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            S.quantize_int8(F.col("v")).alias("qs"),
            S.dequantize_int8(S.quantize_int8(F.col("v"))).alias("recon"),
            S.l2_normalize(F.col("v")).alias("unit"),
        ).collect()
    }
    # reconstruction error bounded by scale/2 per component
    for vid, v in rows:
        qs, recon = out[vid].qs, out[vid].recon
        assert qs.scale == pytest.approx(max(abs(x) for x in v) / 127.0)
        for orig, rec in zip(v, recon):
            assert abs(orig - rec) <= qs.scale / 2 + 1e-12
        if qs.scale > 0:
            assert max(abs(q) for q in qs.q) == 127
    assert out[2].qs.q == [0, 0, 0, 0] and out[2].recon == [0.0, 0.0, 0.0, 0.0]
    # unit norm (zero vector passes through)
    assert math.isclose(sum(x * x for x in out[3].unit) ** 0.5, 1.0, rel_tol=1e-12)
    assert out[3].unit[0] == pytest.approx(0.6) and out[3].unit[1] == pytest.approx(0.8)
    assert out[2].unit == [0.0, 0.0, 0.0, 0.0]


def test_dedup_clusters_chain_and_star(spark):
    # chain 1-2-3-4-5 (diameter 4: needs multiple hash-min rounds),
    # star 10-{11,12,13}, disjoint pair 20-21
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = {r.id: r.cluster_id for r in D.dedup_clusters(pdf).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}
    # keeper selection: exactly one id == cluster_id per component
    keepers = [i for i, c in out.items() if i == c]
    assert sorted(keepers) == [1, 10, 20]


def test_near_dup_sketches_parity(spark):
    # the fused one-scan kernel must be bit-identical to its standalone
    # twins: simhash_tokens AND winnow_fingerprints_tokens (as a set)
    rng = np.random.RandomState(3)
    rows = []
    for i in range(60):
        n = int(rng.randint(0, 13))  # hits empty, <k, <k+w-1, and big
        rows.append((i, rng.randint(0, 50, size=n).tolist()))
    # planted structure: exact dup + near dup + constant-token doc
    rows += [(100, list(range(30))), (101, list(range(30))),
             (102, list(range(15)) + [999] + list(range(15, 30))),
             (103, [7] * 20)]
    # NULL list, empty list and shorter-than-k docs mixed into the batch
    rows += [(104, None), (105, []), (106, [4, 5])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").repartition(5)
    # plus a partition holding only NULL / empty / shorter-than-k docs
    df = df.union(spark.createDataFrame(
        [(107, None), (108, []), (109, [9])], "doc_id long, tokens array<int>").coalesce(1))
    sk = {r.doc_id: r for r in
          D.near_dup_sketches(df, "tokens", "doc_id", k=3, w=4).collect()}
    ref_sim = {r.doc_id: r.simhash
               for r in D.simhash_tokens(df, "tokens", "doc_id").collect()}
    ref_fps = {r.doc_id: sorted(set(r.fps or [])) for r in df.select(
        "doc_id", T.winnow_fingerprints_tokens(F.col("tokens"), k=3, w=4).alias("fps")
    ).collect()}
    assert {i: r.simhash for i, r in sk.items()} == ref_sim
    assert {i: sorted(r.winnow_fps) for i, r in sk.items()} == ref_fps
    # a NULL list sketches exactly like an empty one
    for i in (104, 105, 107, 108):
        assert (sk[i].simhash, list(sk[i].winnow_fps)) == (0, [])
    assert list(sk[106].winnow_fps) == list(sk[109].winnow_fps) == []


def test_near_dup_report_equals_separate_paths(spark):
    rows = [(1, list(range(100))),
            (2, list(range(50)) + [999] + list(range(50, 100))),  # near dup of 1
            (3, [7] * 30), (4, [7] * 30),                          # exact dup
            (5, list(range(500, 560))), (6, [1, 2]), (7, [])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").repartition(3)
    kw = dict(max_hamming=8, prefix_bits=8, tables=4)
    rep = D.near_dup_report(df, "tokens", "doc_id", k=3, w=4, min_shared=2, **kw).collect()
    sim_ref = {(r.id_a, r.id_b): r.hamming
               for r in D.simhash_tokens_near_dups(df, "tokens", "doc_id", **kw).collect()}
    win_ref = {(r.id_a, r.id_b): (r.shared, r.overlap) for r in D.winnow_near_dups(
        df, "tokens", "doc_id", min_shared=2,
        fingerprints=T.winnow_fingerprints_tokens(F.col("tokens"), k=3, w=4),
    ).collect()}
    assert sim_ref and win_ref  # the planted dups must actually pair up
    got_sim = {(r.id_a, r.id_b): r.hamming for r in rep if r.hamming is not None}
    got_win = {(r.id_a, r.id_b): (r.shared, r.overlap) for r in rep
               if r.shared is not None}
    assert got_sim == sim_ref
    assert got_win == win_ref


def test_fit_vocab_and_tokenize(spark):
    rows = [(1, "the cat sat on the mat"), (2, "The dog"), (3, ""), (4, "zebra unknown")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = T.fit_vocab(df, "text", size=5)
    v = {r.word: r.token_id for r in vocab.collect()}
    # 'the' x3 (case-folded) -> id 1; count-1 words tie alphabetically:
    # cat dog mat on sat unknown zebra -> 2.. cut at size 5
    assert v == {"the": 1, "cat": 2, "dog": 3, "mat": 4, "on": 5}
    out = {r.doc_id: (list(r.tokens), r.n_tok)
           for r in T.tokenize_with_vocab(df, "text", "doc_id", vocab).collect()}
    assert out[1] == ([1, 2, 0, 5, 1, 4], 6)   # sat -> OOV 0
    assert out[2] == ([1, 3], 2)
    assert out[3] == ([], 0)                   # wordless doc: empty, not [oov]
    assert out[4] == ([0, 0], 2)
    # the bridge composes with token-side operators
    from torchestra_spark.operators.sequences import pack_sequences
    toks = T.tokenize_with_vocab(df, "text", "doc_id", vocab)
    blocks = pack_sequences(toks, "tokens", "doc_id", block_len=4).collect()
    assert sum(r.n_tok for r in blocks) == 10


def test_decontamination_marks_and_drops(spark):
    # eval doc = tokens 0..19; train doc 1 embeds ONE of its 8-grams,
    # doc 2 shares nothing, doc 3 is shorter than n, doc 4 is an exact
    # copy (the realistic leak)
    ev = spark.createDataFrame([(100, list(range(20)))], "doc_id long, tokens array<int>")
    train = spark.createDataFrame(
        [(1, [99, 98] + list(range(8)) + [77]),
         (2, list(range(1000, 1030))),
         (3, [0, 1, 2]),
         (4, list(range(20)))],
        "doc_id long, tokens array<int>",
    )
    marked = D.mark_contaminated(train, "tokens", "doc_id", ev, n=8)
    m = {r.doc_id: (r.contam_hits, r.is_contaminated) for r in marked.collect()}
    assert m[1] == (1, True)       # exactly the embedded 8-gram
    assert m[2] == (0, False)
    assert m[3] == (0, False)      # no grams at all
    assert m[4] == (13, True)      # 20 - 8 + 1 distinct shared grams
    kept = sorted(r.doc_id for r in
                  D.decontaminate(train, "tokens", "doc_id", ev, n=8).collect())
    assert kept == [2, 3]
    # min_hits raises the bar: the single-gram doc survives
    kept2 = sorted(r.doc_id for r in
                   D.decontaminate(train, "tokens", "doc_id", ev, n=8, min_hits=2).collect())
    assert kept2 == [1, 2, 3]


def test_dedup_clusters_raises_when_not_converged(spark):
    # chain 1-2-3-4-5 has diameter 4; 2 hash-min rounds can't finish
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_clusters(pdf, max_iter=2)


def test_pq_encode_vector_only_input(spark, embs):
    # no passthrough columns: the mapInArrow schema must still parse
    from torchestra_spark.functions import similarity as SIM

    books = SIM.train_pq(embs, "embedding", m=8, ks=16, sample=200, iters=2)
    out = SIM.pq_encode(embs.select("embedding"), "embedding", books)
    rows = out.limit(5).collect()
    assert out.columns == ["pq_code"]
    assert all(len(r.pq_code) == 8 for r in rows)


def test_splitmix64_uniform_batch_invariant_and_null(spark):
    # a non-NULL id's value depends on the id alone, not on a NULL id in
    # the same Arrow batch (no float64 rounding of ids above 2**53); a
    # NULL id gives NULL
    from pyspark.sql import functions as F

    from torchestra_spark.functions import sampling as SM
    from torchestra_spark.io.sources import _uniform

    big = 2**60 + 1
    want = float(_uniform(np.array([big], dtype=np.uint64), 42, 0)[0])

    def u(ids):
        df = spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1)
        u = SM.uniform_by_id(F.col("id"), method="splitmix64")
        return [r[0] for r in df.select(u).collect()]

    assert u([big]) == [want]
    assert u([big, None]) == [want, None]


@pytest.mark.parametrize("method", ["xxhash64", "splitmix64"])
def test_null_ids_sampled_alike_by_both_methods(spark, method):
    # a NULL id gives a NULL uniform under both hash methods, so both
    # samplers drop NULL-id rows and split_assign puts them in its last
    # split — not in whichever split one shared NULL hash happens to pick
    from torchestra_spark.functions import sampling as SM

    df = spark.createDataFrame(
        [(7, "web"), (None, "web"), (None, "web")], "doc_id long, source string"
    ).coalesce(1)
    u = SM.uniform_by_id(F.col("doc_id"), seed=42, salt=0, method=method)
    assert [r[0] is None for r in df.select(u).collect()] == [False, True, True]
    kept = SM.deterministic_sample(df, "doc_id", 1.0, seed=42, method=method)
    assert [r["doc_id"] for r in kept.collect()] == [7]
    mixed = SM.mixture_sample(df, "doc_id", "source", {"web": 1.0}, seed=42, method=method)
    assert [r["doc_id"] for r in mixed.collect()] == [7]
    split = SM.split_assign(F.col("doc_id"), {"train": 1.0 - 1e-12, "rest": 1e-12}, method=method)
    assert [r[0] for r in df.select(split).collect()] == ["train", "rest", "rest"]


def test_deterministic_sampling_partition_invariant(spark):
    from torchestra_spark.functions import sampling as SM

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    for method in ("xxhash64", "splitmix64"):
        a = set(
            r.doc_id
            for r in SM.deterministic_sample(df.repartition(1), "doc_id", 0.3,
                                             seed=9, method=method).collect()
        )
        b = set(
            r.doc_id
            for r in SM.deterministic_sample(df.repartition(13), "doc_id", 0.3,
                                             seed=9, method=method).collect()
        )
        assert a == b, method                      # partition-invariant
        assert abs(len(a) / 20000 - 0.3) < 0.02    # rate is honored
        # different seed -> different (mostly disjoint-ish) sample
        c = set(
            r.doc_id
            for r in SM.deterministic_sample(df, "doc_id", 0.3, seed=10,
                                             method=method).collect()
        )
        assert 0.05 < len(a & c) / len(a) < 0.55


def test_split_assign_disjoint_exhaustive(spark):
    from pyspark.sql import functions as F2

    from torchestra_spark.functions import sampling as SM

    df = spark.range(0, 30000).withColumnRenamed("id", "doc_id")
    out = df.select("doc_id", SM.split_assign(F2.col("doc_id"), seed=3))
    frac = {r["split"]: r["n"] for r in out.groupBy("split").agg(F2.count("*").alias("n")).collect()}
    assert sum(frac.values()) == 30000            # exhaustive, one split per row
    assert abs(frac["train"] / 30000 - 0.98) < 0.005
    assert abs(frac["val"] / 30000 - 0.01) < 0.005
    assert abs(frac["test"] / 30000 - 0.01) < 0.005
    # stable across reruns
    out2 = df.select("doc_id", SM.split_assign(F2.col("doc_id"), seed=3))
    joined = out.withColumnRenamed("split", "s1").join(out2.withColumnRenamed("split", "s2"), "doc_id")
    assert joined.filter("s1 <> s2").count() == 0


def test_pq_recall_and_exact_config(spark, embs):
    from torchestra_spark.functions import similarity as SIM

    q = np.asarray(embs.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    exact = [r.vec_id for r in SIM.brute_force_topk(embs, "embedding", q, k=10).collect()]

    # recall-1.0 config: iters=0, ks >= corpus -> ADC == exact L2, and
    # L2 ranks == cosine ranks only approximately; compare to exact L2
    books = SIM.train_pq(embs, "embedding", m=8, ks=10_000, sample=10_000, iters=0)
    codes = SIM.pq_encode(embs.select("vec_id", "embedding"), "embedding", books)
    pq = SIM.pq_topk(codes, books, q, k=10).collect()
    pdf = embs.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    d2 = ((X - q) ** 2).sum(axis=1)
    order = np.lexsort((pdf["vec_id"].to_numpy(), d2))[:10]
    assert [r.vec_id for r in pq] == pdf["vec_id"].to_numpy()[order].tolist()
    assert np.allclose([r.pq_dist for r in pq], d2[order], atol=1e-9)

    # lossy production config on a CLUSTERED corpus (the fixture embs
    # are pure noise, where all neighbors are near-equidistant and any
    # lossy index shuffles ranks): 50 planted clusters of 10, query a
    # cluster center -> its mates must dominate PQ top-10
    rng = np.random.RandomState(0)
    centers = rng.randn(50, 64) * 5
    pts = np.repeat(centers, 10, axis=0) + rng.randn(500, 64) * 0.3
    cdf = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(500)], "vec_id long, embedding array<double>"
    )
    books2 = SIM.train_pq(cdf, "embedding", m=8, ks=64, iters=10, seed=1)
    codes2 = SIM.pq_encode(cdf.select("vec_id", "embedding"), "embedding", books2)
    got = {r.vec_id for r in SIM.pq_topk(codes2, books2, centers[7], k=10).collect()}
    cluster7 = set(range(70, 80))
    assert len(got & cluster7) >= 8, f"recall too low: {sorted(got & cluster7)}"


def test_c4_line_and_doc_filters(spark):
    rows = [
        (1, 'A good line with enough words here.\nshort\nAnother proper sentence ends well!'),
        (2, "function f() { return 1; } and more words here to pass length"),
        (3, "Lorem Ipsum dolor sit amet and then some other words"),
        (4, "tiny doc"),
        (5, "This document is perfectly ordinary prose with many words."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.c4_doc_filter(F.col("text")).alias("keep"),
            T.c4_clean_lines(F.col("text")).alias("cleaned"),
        ).collect()
    }
    assert out[1].keep and out[5].keep
    assert not out[2].keep      # braces
    assert not out[3].keep      # lorem ipsum (case-insensitive)
    assert not out[4].keep      # < 5 words
    # line cleaning drops the short/unterminated middle line
    assert out[1].cleaned == (
        "A good line with enough words here.\nAnother proper sentence ends well!"
    )


def test_resize_bmp_real(spark):
    # 4x4 image with distinct per-pixel values; nearest-neighbor to 2x2
    # picks rows/cols {0,2} exactly; roundtrip through real BMP codec
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [M.encode_bmp(px), None]})
    )
    out = {r.doc_id: r.payload for r in
           M.resize_bmp(df, "payload", "doc_id", width=2, height=2).collect()}
    got = M.decode_bmp_pixels(bytes(out[1]))
    assert got.shape == (2, 2, 3)
    assert np.array_equal(got, px[[0, 2]][:, [0, 2]])
    assert out[2] is None          # NULL payload passes through
    # upscale picks repeated source pixels, still exact
    up = M.resize_bmp(df.limit(1), "payload", "doc_id", width=8, height=8).collect()
    gup = M.decode_bmp_pixels(bytes(up[0].payload))
    yi = (np.arange(8) * 4) // 8
    assert np.array_equal(gup, px[yi][:, yi])
    # an empty payload is not a BMP: it raises at the codec
    empty = spark.createDataFrame([(3, b"")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="not a BMP payload"):
        M.resize_bmp(empty, "payload", "doc_id", width=2, height=2).collect()


def test_ivfpq_exact_config_and_recall(spark, embs):
    from torchestra_spark.functions import similarity as SIM

    q = np.asarray(embs.orderBy("vec_id").first()["embedding"], dtype=np.float64)
    # recall-1.0 config: iters=0 + ks >= corpus makes every residual
    # subvector a codebook centroid, so ADC == exact squared L2 no
    # matter the (random-pick) coarse cells; probing ALL cells removes
    # the IVF approximation too
    C, B = SIM.train_ivfpq(embs, "embedding", n_centroids=4, m=8, ks=10_000,
                           sample=10_000, iters=0, order_col="vec_id")
    codes = SIM.ivfpq_encode(embs.select("vec_id", "embedding"), "embedding", C, B)
    got = SIM.ivfpq_topk(codes, C, B, q, k=10, n_probes=4).collect()
    pdf = embs.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    d2 = ((X - q) ** 2).sum(axis=1)
    order = np.lexsort((pdf["vec_id"].to_numpy(), d2))[:10]
    assert [r.vec_id for r in got] == pdf["vec_id"].to_numpy()[order].tolist()
    assert np.allclose([r.ivfpq_dist for r in got], d2[order], atol=1e-9)

    # lossy production config on a clustered corpus: cluster mates must
    # dominate the probed top-10
    rng = np.random.RandomState(0)
    centers = rng.randn(50, 64) * 5
    pts = np.repeat(centers, 10, axis=0) + rng.randn(500, 64) * 0.3
    cdf = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(500)], "vec_id long, embedding array<double>"
    )
    C2, B2 = SIM.train_ivfpq(cdf, "embedding", n_centroids=16, m=8, ks=64,
                             iters=5, seed=1, order_col="vec_id")
    codes2 = SIM.ivfpq_encode(cdf.select("vec_id", "embedding"), "embedding", C2, B2)
    got2 = {r.vec_id for r in SIM.ivfpq_topk(codes2, C2, B2, centers[7], k=10,
                                             n_probes=4).collect()}
    assert len(got2 & set(range(70, 80))) >= 8, f"recall too low: {sorted(got2)}"
    # cell pruning really prunes: probing 1 of 16 cells scans a subset
    one = SIM.ivfpq_topk(codes2, C2, B2, centers[7], k=10, n_probes=1)
    assert one.count() == 10


def test_simhash_probe_index_batch(spark):
    ref = spark.createDataFrame(
        [(0, list(range(40))), (1, [7] * 30), (2, list(range(1000, 1040)))],
        "doc_id long, tokens array<int>",
    )
    probe = spark.createDataFrame(
        [(10, list(range(40))),                       # exact copy of ref 0
         (11, list(range(39)) + [555]),               # near dup of ref 0
         (12, list(range(5000, 5040))),               # unrelated
         (13, []),                                    # empty
         (14, None),                                  # NULL
         (15, [3])],                                  # one token
        "doc_id long, tokens array<int>",
    ).repartition(4)
    # plus a partition holding only NULL / empty docs
    probe = probe.union(spark.createDataFrame(
        [(16, None), (17, [])], "doc_id long, tokens array<int>").coalesce(1))
    idx = D.build_simhash_index(ref, "tokens", "doc_id", prefix_bits=8, tables=8)
    out = {r.doc_id: (r.near_dup_matches, r.is_near_dup)
           for r in D.mark_near_dups_indexed(probe, "tokens", "doc_id", idx,
                                             max_hamming=6).collect()}
    assert out[10] == (1, True)
    assert out[11][1] is True
    assert out[12] == (0, False)
    for i in (13, 14, 15, 16, 17):
        assert out[i] == (0, False)
    # match semantics equal the blocked join run on the union corpus
    sim_ref = {r.doc_id: r.simhash for r in D.simhash_tokens(ref, "tokens", "doc_id").collect()}
    sim_pr = {r.doc_id: r.simhash
              for r in D.mark_near_dups_indexed(probe, "tokens", "doc_id", idx).collect()}
    assert sim_pr[10] == sim_ref[0]   # same kernel, bit-identical sketches
    assert sim_pr[13] == sim_pr[14] == sim_pr[16] == sim_pr[17] == 0  # NULL == empty


def test_simhash_probe_index_on_stream_matches_batch(spark, tmp_path):
    from tests.test_streaming import run_to_memory

    ref = spark.createDataFrame(
        [(i, [j * 3 + i for j in range(20)]) for i in range(50)],
        "doc_id long, tokens array<int>",
    )
    idx = D.build_simhash_index(ref, "tokens", "doc_id", prefix_bits=8, tables=8)
    probe = spark.createDataFrame(
        [(100 + i, [j * 3 + (i % 50) for j in range(20)]) for i in range(120)],
        "doc_id long, tokens array<int>",
    )
    d = tmp_path / "probe_stream"
    probe.coalesce(3).write.parquet(str(d))
    stream = spark.readStream.schema(probe.schema).parquet(str(d))
    got = run_to_memory(
        D.mark_near_dups_indexed(stream, "tokens", "doc_id", idx, max_hamming=0),
        "t_probe", spark,
    )
    gp = {r.doc_id: (r.near_dup_matches, r.is_near_dup) for r in got.collect()}
    ep = {r.doc_id: (r.near_dup_matches, r.is_near_dup)
          for r in D.mark_near_dups_indexed(probe, "tokens", "doc_id", idx,
                                            max_hamming=0).collect()}
    assert gp == ep and len(gp) == 120
    assert all(v == (1, True) for v in ep.values())  # each probe copies one ref doc


def _catalyst_contam_hits(train, ev, n=8):
    """Independent reference: the Catalyst ``token_ngram_hashes`` fold of
    each row, ``array_intersect``-ed with the collected eval gram set."""
    def grams(c):
        return F.coalesce(T.token_ngram_hashes(F.col(c), n), F.array().cast("array<bigint>"))

    eval_grams = sorted({g for r in ev.select(grams("tokens").alias("g")).collect()
                         for g in r.g})
    evset = F.array(*[F.lit(g) for g in eval_grams]).cast("array<bigint>")
    return {r.doc_id: (r.h, r.h >= 1) for r in train.select(
        "doc_id", F.size(F.array_intersect(grams("tokens"), evset)).alias("h")).collect()}


def test_mark_contaminated_matches_catalyst_reference(spark):
    ev = spark.createDataFrame([(100, list(range(20)))], "doc_id long, tokens array<int>")
    train = spark.createDataFrame(
        [(1, [99, 98] + list(range(8)) + [77]),
         (2, list(range(1000, 1030))),
         (3, [0, 1, 2]),
         (4, list(range(20))),
         (5, None),
         (6, []),
         (7, list(range(7)))],  # one token short of an 8-gram
        "doc_id long, tokens array<int>",
    ).repartition(4)
    # plus a partition holding only NULL / empty docs
    train = train.union(spark.createDataFrame(
        [(8, None), (9, [])], "doc_id long, tokens array<int>").coalesce(1))
    idx = D.build_contamination_index(ev, "tokens", n=8)
    got = {r.doc_id: (r.contam_hits, r.is_contaminated)
           for r in D.mark_contaminated_indexed(train, "tokens", "doc_id", idx,
                                                n=8).collect()}
    marked = D.mark_contaminated(train, "tokens", "doc_id", ev, n=8)
    exp = _catalyst_contam_hits(train, ev)
    assert got == exp
    assert {r.doc_id: (r.contam_hits, r.is_contaminated) for r in marked.collect()} == exp
    assert got[4] == (13, True) and got[2] == (0, False)
    assert all(got[i] == (0, False) for i in (3, 5, 6, 7, 8, 9))
    # one pass over the training side: no join, no aggregate, and no
    # hash exchange (the round-robin one is train's own repartition)
    plan = marked._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "hashpartitioning" not in plan


@pytest.mark.parametrize("form", ["indexed", "eval_df"])
def test_mark_contaminated_on_stream(spark, tmp_path, form):
    from tests.test_streaming import run_to_memory

    ev = spark.createDataFrame(
        [(i, list(range(i * 30, i * 30 + 20))) for i in range(5)],
        "doc_id long, tokens array<int>",
    )
    idx = D.build_contamination_index(ev, "tokens", n=8)

    def mark(frame):
        if form == "indexed":
            return D.mark_contaminated_indexed(frame, "tokens", "doc_id", idx, n=8)
        return D.mark_contaminated(frame, "tokens", "doc_id", ev, n=8)

    probe = spark.createDataFrame(
        [(100 + i, list(range((i % 10) * 30, (i % 10) * 30 + 20))) for i in range(40)],
        "doc_id long, tokens array<int>",
    )
    d = tmp_path / "contam_stream"
    probe.coalesce(3).write.parquet(str(d))
    stream = spark.readStream.schema(probe.schema).parquet(str(d))
    got = run_to_memory(mark(stream), f"t_contam_{form}", spark)
    gp = {r.doc_id: (r.contam_hits, r.is_contaminated) for r in got.collect()}
    ep = {r.doc_id: (r.contam_hits, r.is_contaminated) for r in mark(probe).collect()}
    assert gp == ep and len(gp) == 40
    # the first 5 of every 10 probes copy an eval doc -> 13 shared grams
    assert gp[100] == (13, True) and gp[105] == (0, False)


@pytest.mark.parametrize("stage", ["decontaminate", "tokenize"])
def test_dirty_ids_are_marked_per_row(spark, stage):
    """A duplicated and a NULL id: each row gets its own answer, and the
    input columns keep their order ahead of the new ones."""
    if stage == "decontaminate":
        ev = spark.createDataFrame([(100, list(range(20)))], "doc_id long, tokens array<int>")
        df = spark.createDataFrame(
            [("copy", 1, list(range(20))),
             ("clean", 1, list(range(1000, 1030))),   # same id as the copy
             ("null-id copy", None, list(range(20)))],
            "k string, doc_id long, tokens array<int>",
        )
        out = D.mark_contaminated(df, "tokens", "doc_id", ev, n=8)
        new = ["contam_hits", "is_contaminated"]
        got = {r.k: r.contam_hits for r in out.collect()}
        assert got == {"copy": 13, "clean": 0, "null-id copy": 13}
        kept = [r.k for r in D.decontaminate(df, "tokens", "doc_id", ev, n=8).collect()]
        assert kept == ["clean"]   # the NULL-id leak is dropped
    else:
        df = spark.createDataFrame(
            [("a", 1, "cat sat"), ("b", 1, "dog mat"), ("c", None, "mat cat")],
            "k string, doc_id long, text string",
        )
        vocab = spark.createDataFrame(
            [("cat", 1), ("sat", 2), ("dog", 3), ("mat", 4)], "word string, token_id int"
        )
        out = T.tokenize_with_vocab(df, "text", "doc_id", vocab)
        new = ["tokens", "n_tok"]
        got = {r.k: (list(r.tokens), r.n_tok) for r in out.collect()}
        assert got == {"a": ([1, 2], 2), "b": ([3, 4], 2), "c": ([4, 1], 2)}
    assert out.columns == df.columns + new


def test_dedup_clusters_path_graph_pointer_doubling(spark):
    # 200-node path: diameter 199.  Plain hash-min needs 199 rounds;
    # pointer doubling doubles the reach per round (1, 3, 7, ...) so
    # it must converge — including the final no-change detection
    # round — within 10 (r4 verdict item 7).
    pairs = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(199)],
        "id_a string, id_b string",
    )
    out = {r["id"]: r["cluster_id"] for r in D.dedup_clusters(pairs, max_iter=10).collect()}
    assert len(out) == 200
    assert set(out.values()) == {"d000"}


def _catalyst_tokens(df, vocab, oov=0):
    """Independent reference: the JVM ``\\s`` split of ``words`` over
    ``lower(text)``, each word looked up in a literal vocabulary map."""
    v = {r.word: r.token_id for r in vocab.collect()}
    lut = F.create_map(*[F.lit(x) for kv in sorted(v.items()) for x in kv])
    toks = F.coalesce(
        F.transform(T.words(F.lower(F.col("text"))),
                    lambda w: F.coalesce(F.element_at(lut, w), F.lit(oov))),
        F.array().cast("array<int>"),
    )
    return {r["doc_id"]: (r["tokens"], r["n_tok"]) for r in df.select(
        "doc_id", toks.alias("tokens"), F.size(toks).alias("n_tok")).collect()}


def test_tokenize_matches_catalyst_reference(spark):
    # the task-closure tokenizer must produce the token arrays of the
    # Catalyst reference (the oracle's word split and lookup),
    # including empty / NULL / whitespace-edge documents
    df = spark.createDataFrame(
        [(1, "The cat  sat"), (2, ""), (3, None), (4, "cat CAT\tmat\ncat")],
        "doc_id long, text string",
    )
    vocab = T.fit_vocab(df, "text", size=3)
    a = _catalyst_tokens(df, vocab)
    b = {
        r["doc_id"]: (r["tokens"], r["n_tok"])
        for r in T.tokenize_with_vocab_local(df, "text", "doc_id", vocab).collect()
    }
    assert a == b
    # and it must be genuinely shuffle-free: no Exchange in the plan
    plan = (
        T.tokenize_with_vocab_local(df, "text", "doc_id", vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_tokenize_with_vocab_on_stream(spark, tmp_path):
    from tests.test_streaming import run_to_memory

    df = spark.createDataFrame(
        [(i, f"cat dog {'mat ' * (i % 3)}x{i % 4}") for i in range(30)] + [(30, None)],
        "doc_id long, text string",
    )
    vocab = T.fit_vocab(df, "text", size=4)
    d = tmp_path / "tok_stream"
    df.coalesce(3).write.parquet(str(d))
    stream = spark.readStream.schema(df.schema).parquet(str(d))
    got = run_to_memory(T.tokenize_with_vocab(stream, "text", "doc_id", vocab),
                        "t_tok", spark)
    gp = {r.doc_id: (r.tokens, r.n_tok) for r in got.collect()}
    ep = {r.doc_id: (r.tokens, r.n_tok)
          for r in T.tokenize_with_vocab(df, "text", "doc_id", vocab).collect()}
    assert gp == ep and len(gp) == 31
    assert gp[30] == ([], 0)


def test_tokenize_local_fuzz_parity(spark):
    # 300 seeded random docs over ASCII words + all five Java-\s
    # whitespace chars + punctuation: the Catalyst reference (JVM split)
    # and the task-closure path (Python split) must agree token-for-token
    # (they share one driver oracle, so any split/lowercase divergence is
    # a correctness bug)
    import random

    rng = random.Random(20260817)
    ws_chars = [" ", "\t", "\n", "\x0b", "\f", "\r", "  ", " \t\n"]
    # includes locale-sensitive non-ASCII (U+0130 İ, ß, Σ/ς): both
    # sides lowercase JVM-side, so these must agree token-for-token
    pieces = ["cat", "Dog", "MAT", "x", "42", "a-b", "e!", "Zz9", "", "the",
              "\u0130stanbul", "STRASSE", "stra\u00dfe", "\u03a3\u039f\u03a6\u039f\u03a3", "\u03c3o\u03c2"]
    docs = []
    for i in range(300):
        n = rng.randint(0, 12)
        txt = "".join(
            rng.choice(pieces) + rng.choice(ws_chars) for _ in range(n)
        )
        docs.append((i, txt if rng.random() > 0.05 else None))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(4)
    vocab = T.fit_vocab(df, "text", size=6)
    a = {k: toks for k, (toks, _) in _catalyst_tokens(df, vocab).items()}
    b = {
        r["doc_id"]: r["tokens"]
        for r in T.tokenize_with_vocab_local(df, "text", "doc_id", vocab).collect()
    }
    assert a == b


def test_pq_rerank_improves_or_matches_adc(spark, embs):
    # two-stage search: with LOSSY codebooks (ks=8, iters=2) the exact
    # re-rank over an ADC shortlist must (a) equal exact brute-force
    # top-k when the shortlist covers the corpus, and (b) never score
    # worse recall than raw ADC at the same k
    from torchestra_spark.functions import similarity as SIM

    q = embs.orderBy("vec_id").first()["embedding"]
    books = SIM.train_pq(embs, "embedding", m=4, ks=8, sample=200, iters=2, order_col="vec_id")
    codes = SIM.pq_encode(embs.select("vec_id", "embedding"), "embedding", books)
    n = embs.count()

    exact = [
        r["vec_id"]
        for r in embs.select(
            "vec_id", SIM.sq_l2(F.col("embedding"), SIM._lit_vec(q)).alias("d")
        ).orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(10).collect()
    ]
    full = [
        r["vec_id"]
        for r in SIM.pq_rerank_topk(codes, embs, books, q, k=10, shortlist=n).collect()
    ]
    assert full == exact  # shortlist == corpus -> exact top-k

    adc = {r["vec_id"] for r in SIM.pq_topk(codes, books, q, k=10).collect()}
    rr = {
        r["vec_id"]
        for r in SIM.pq_rerank_topk(codes, embs, books, q, k=10, shortlist=50).collect()
    }
    ex = set(exact)
    assert len(rr & ex) >= len(adc & ex)


def test_pq_rerank_plan_broadcasts_shortlist(spark, embs):
    from torchestra_spark.functions import similarity as SIM

    q = embs.orderBy("vec_id").first()["embedding"]
    books = SIM.train_pq(embs, "embedding", m=4, ks=8, sample=200, iters=2, order_col="vec_id")
    codes = SIM.pq_encode(embs.select("vec_id", "embedding"), "embedding", books)
    plan = (
        SIM.pq_rerank_topk(codes, embs, books, q, k=10, shortlist=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_rerank_exact_when_shortlist_covers_probed_cells(spark, embs):
    # with lossy residual codebooks, re-ranking an all-cells shortlist
    # the size of the corpus must equal exact brute-force top-k; with a
    # tight shortlist it must never beat... worse recall than raw ADC
    from torchestra_spark.functions import similarity as SIM

    q = embs.orderBy("vec_id").first()["embedding"]
    C, B = SIM.train_ivfpq(
        embs, "embedding", n_centroids=4, m=4, ks=8, sample=200, iters=2,
        order_col="vec_id",
    )
    codes = SIM.ivfpq_encode(embs.select("vec_id", "embedding"), "embedding", C, B)
    n = embs.count()
    exact = [
        r["vec_id"]
        for r in embs.select(
            "vec_id", SIM.sq_l2(F.col("embedding"), SIM._lit_vec(q)).alias("d")
        ).orderBy(F.col("d").asc(), F.col("vec_id").asc()).limit(10).collect()
    ]
    full = [
        r["vec_id"]
        for r in SIM.ivfpq_rerank_topk(
            codes, embs, C, B, q, k=10, shortlist=n, n_probes=4
        ).collect()
    ]
    assert full == exact
    ex = set(exact)
    adc = {r["vec_id"] for r in SIM.ivfpq_topk(codes, C, B, q, k=10, n_probes=2).collect()}
    rr = {
        r["vec_id"]
        for r in SIM.ivfpq_rerank_topk(codes, embs, C, B, q, k=10, shortlist=50, n_probes=2).collect()
    }
    assert len(rr & ex) >= len(adc & ex)


def test_dedup_keep_best_picks_highest_quality(spark):
    # clusters {1,2,3} and {10,11}; quality says keep 2 (not min-id 1)
    # and 11 (tie on quality -> min id among tied = 10? no: 11 higher);
    # 99 is a singleton and always survives
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 7), (99, 1)],
        "doc_id long, quality long",
    )
    kept = sorted(
        r["doc_id"]
        for r in D.dedup_keep_best(df, pairs, "doc_id", "quality").collect()
    )
    # cluster {1,2,3}: quality 9 tie between 2 and 3 -> min id 2
    # cluster {10,11}: 11 wins on quality 7 > 4
    assert kept == [2, 11, 99]


def test_gopher_new_signals(spark):
    """Symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
    fraction (Rae et al. 2021 §A1.1 remaining public rules) — exact
    hand-computed values and the gate thresholds."""
    base = "the quick brown foxes jumped over the fence and the hounds chased them through that field today"
    rows = [
        (1, base),                                              # clean
        (2, base + " ### ... …"),                               # symbols: 3+1+1 = 5
        (3, "- one bullet\n- two bullet\n- three bullet"),      # all lines bulleted
        (4, "first line...\nsecond line\nthird…"),              # 2/3 ellipsis-ended
        (5, base + " " + "12345 " * 30),                        # numeric flood
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.symbol_word_ratio(F.col("text")).alias("sym"),
            T.bullet_line_frac(F.col("text")).alias("bl"),
            T.ellipsis_line_frac(F.col("text")).alias("el"),
            T.alpha_word_frac(F.col("text")).alias("aw"),
            T.gopher_filter(F.col("text")).alias("keep"),
        ).collect()
    }
    assert out[1].sym == 0.0 and out[1].bl == 0.0 and out[1].el == 0.0
    assert out[1].aw == 1.0 and out[1].keep
    # doc 2: 17 base words + '###' + '...' + '…' = 20 words; syms = 3+1+1
    assert abs(out[2].sym - 5.0 / 20.0) < 1e-9 and not out[2].keep
    assert out[3].bl == 1.0 and not out[3].keep
    assert abs(out[4].el - 2.0 / 3.0) < 1e-9 and not out[4].keep
    # doc 5: 17 alpha words of 47 total
    assert abs(out[5].aw - 17.0 / 47.0) < 1e-9 and not out[5].keep


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir routes the iteration state through reliable
    storage: identical labels, and checkpoint files actually land in
    the directory (executor-loss recovery reads them instead of
    recomputing the near-dup join)."""
    import os

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101), (103, 101)],
        "id_a long, id_b long",
    )
    local = {(r.id, r.cluster_id) for r in D.dedup_clusters(pairs).collect()}
    ckdir = str(tmp_path / "ck")
    reliable = {
        (r.id, r.cluster_id)
        for r in D.dedup_clusters(pairs, checkpoint_dir=ckdir).collect()
    }
    assert reliable == local
    assert {r.cluster_id for r in D.dedup_clusters(pairs, checkpoint_dir=ckdir).collect()} == {0, 100}
    found = []
    for root, _dirs, files in os.walk(ckdir):
        found += files
    assert found, "no checkpoint files written to checkpoint_dir"


def _stored_rdd_ids(spark):
    """Ids of RDDs currently holding storage blocks.  Tests compare id
    SETS, not counts: the ContextCleaner asynchronously reaps pinned
    RDDs from earlier tests once their references are GC'd, so raw
    block counts can shift mid-test."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_release_pinned_frees_blocks(spark):
    """release_pinned must actually free localCheckpoint storage —
    DataFrame.unpersist() is a no-op on checkpoint blocks (they are not
    CacheManager entries)."""
    from torchestra_spark.functions.dedup import release_pinned

    base = _stored_rdd_ids(spark)
    ck = spark.range(10000).withColumn("x", F.col("id") * 2).localCheckpoint(eager=True)
    mine = _stored_rdd_ids(spark) - base
    assert len(mine) == 1
    ck.unpersist()  # documented no-op
    assert mine <= _stored_rdd_ids(spark)
    release_pinned(ck)
    assert not (mine & _stored_rdd_ids(spark))


def test_near_dup_report_release_frees_all_blocks(spark):
    """near_dup_report returns ONE pinned frame; release_pinned(result)
    must leave ZERO leftover storage blocks — the r6 version returned a
    plain join of two pinned pair frames, whose blocks release_pinned
    could not reach (a join plan is not a LogicalRDD, and checkpoint
    blocks are invisible to unpersist)."""
    import torchestra_spark.functions.dedup as D

    docs = [(i, list(range(i % 7, i % 7 + 30))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<long>")
    base = _stored_rdd_ids(spark)
    rep = D.near_dup_report(df, "tokens", "doc_id", max_bucket_size=None, max_fp_freq=None)
    assert rep.count() > 0  # fully consume
    mine = _stored_rdd_ids(spark) - base
    assert mine  # the report itself is pinned
    D.release_pinned(rep)
    left = mine & _stored_rdd_ids(spark)
    assert not left, f"near_dup_report leaked storage blocks: {left}"


@pytest.mark.parametrize(
    "entry", ["near_dup_report", "dedup_clusters", "dedup_keep_best", "minhash_dedup_verified"]
)
def test_dedup_entry_release_frees_all_blocks(spark, entry):
    """Every dedup entry point that pins state hands all of it to its
    result: once the result is consumed, ``release_pinned(result)``
    leaves none of the storage blocks the call made.  Before, the label
    propagation kept every superseded label pin and its edge pin, and
    the verified MinHash kept its candidate pin."""
    path = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i, list(range(i % 7, i % 7 + 30)), f"doc {i % 9} alpha beta gamma {i % 4}")
         for i in range(60)],
        "doc_id long, tokens array<long>, text string",
    )
    run = {
        "near_dup_report": lambda: D.near_dup_report(
            docs, "tokens", "doc_id", max_bucket_size=None, max_fp_freq=None
        ),
        "dedup_clusters": lambda: D.dedup_clusters(path),
        "dedup_keep_best": lambda: D.dedup_keep_best(
            path.select(F.col("id_a").alias("doc_id"), (F.col("id_a") % 3).alias("quality")),
            path, "doc_id", "quality",
        ),
        "minhash_dedup_verified": lambda: D.minhash_dedup_verified(
            docs, "text", "doc_id", k=64, bands=32, shingle_n=2, threshold=0.6
        ),
    }[entry]
    base = _stored_rdd_ids(spark)
    out = run()
    assert out.count() > 0  # fully consume
    mine = _stored_rdd_ids(spark) - base
    assert mine  # the result reads pinned state
    D.release_pinned(out)
    left = mine & _stored_rdd_ids(spark)
    assert not left, f"{entry} leaked storage blocks: {left}"


def test_sketch_pins_honor_checkpoint_dir(spark, tmp_path):
    """r7: the two remaining sketch pins — simhash_hamming_pairs'
    (id, sketch) table and winnow_near_dups' (id, fp) table — take
    checkpoint_dir like the iterative cluster state: identical pairs,
    and checkpoint files actually land in the directory."""
    import os

    docs = [(i, "the quick brown fox %d jumps over the lazy dog %d" % (i % 5, i % 5))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for fn, kw in (
        (D.simhash_near_dups, dict(max_bucket_size=None)),
        (D.winnow_near_dups, dict(max_fp_freq=None)),
    ):
        local = {(r.id_a, r.id_b) for r in fn(df, "text", "doc_id", **kw).collect()}
        ckdir = str(tmp_path / fn.__name__)
        out = fn(df, "text", "doc_id", checkpoint_dir=ckdir, **kw)
        reliable = {(r.id_a, r.id_b) for r in out.collect()}
        assert reliable == local and local
        found = []
        for _root, _dirs, files in os.walk(ckdir):
            found += files
        assert found, f"{fn.__name__}: no checkpoint files in checkpoint_dir"
        D.release_pinned(out)


def test_vec_stage_quotes_odd_column_names(spark):
    """r7 (advice): mapInArrow DDL schema strings must backtick-quote
    passthrough field names — a column named e.g. 'doc id' or 'n-chars'
    previously made the assembled schema string unparseable.  (DOTTED
    names are out of scope: PySpark's own mapInArrow resolves input
    columns via df[name], which parses dots as struct access.)"""
    rng = np.random.RandomState(3)
    X = rng.randn(12, 6)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc id": range(12),  # space
                "n-chars": [len(str(i)) for i in range(12)],  # dash
                "embedding": [row.tolist() for row in X],
            }
        )
    )
    out = S.lsh_buckets(df, "embedding", 6, 4, 42)
    rows = out.collect()
    assert len(rows) == 12 and "bucket" in out.columns
    assert {r["doc id"] for r in rows} == set(range(12))


def test_exact_topk_multi_matches_numpy(spark):
    """The one-pass distributed ground truth (r7 recall_at_k rewrite)
    must equal the full-corpus numpy brute force it replaced — same
    cosine ordering, same id-ascending tie-break — across multiple
    partitions (local top-k union correctness)."""
    rng = np.random.RandomState(21)
    X = rng.randn(300, 16)
    X[7] = X[3]  # exact duplicate -> sim tie, id tie-break exercised
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(300), "embedding": [r.tolist() for r in X]})
    ).repartition(8)
    Q = X[[5, 50, 200]]
    got = S.exact_topk_multi(df, "embedding", "vec_id", Q, k=10)
    ids = np.arange(300)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    for j in range(3):
        q = Q[j] / max(float(np.linalg.norm(Q[j])), 1e-30)
        sims = Xn @ q
        order = np.lexsort((ids, -sims))[:10]
        assert got[j] == ids[order].tolist(), j


def test_resize_image_mixed_containers(spark):
    """resize_image sniffs per-payload container (BMP vs PNG), resizes
    with the shared nearest-neighbor kernel, and re-encodes in the SAME
    container — pixel-exact vs resizing numpy-side."""
    rng = np.random.RandomState(13)
    px_a = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    px_b = rng.randint(0, 256, size=(5, 9, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "payload": [M.encode_bmp(px_a), M.encode_png(px_b), None],
            }
        )
    )
    out = {
        r["doc_id"]: r["payload"]
        for r in M.resize_image(df, width=4, height=3).collect()
    }
    assert out[3] is None
    assert bytes(out[1])[:2] == b"BM" and bytes(out[2])[:8] == M.PNG_MAGIC
    for doc, px, dec in ((1, px_a, M.decode_bmp_pixels), (2, px_b, M.decode_png_pixels)):
        h0, w0 = px.shape[:2]
        yi = (np.arange(3) * h0) // 3
        xi = (np.arange(4) * w0) // 4
        assert np.array_equal(dec(bytes(out[doc])), px[yi][:, xi]), doc
    # an empty payload matches no container magic: it raises
    empty = spark.createDataFrame([(4, b"")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="resize_image supports"):
        M.resize_image(empty, width=4, height=3).collect()


def test_jpeg_codec_roundtrip_tolerances():
    """Baseline JPEG codec (pure numpy/stdlib): constant-color blocks
    reconstruct exactly (DC-only, quant step divides evenly at the DC
    magnitude); smooth gradients reconstruct within quantization
    tolerance; grayscale / 4:2:0 / restart-interval variants decode —
    and restart-marker streams decode BIT-IDENTICALLY to their
    no-restart twins."""
    from torchestra_spark.functions import jpeg as J

    px = np.full((16, 16, 3), 120, dtype=np.uint8)
    out = J.decode_jpeg_pixels(J.encode_jpeg(px))
    assert out.shape == (16, 16, 3)
    assert np.abs(out.astype(int) - 120).max() == 0

    y, x = np.mgrid[0:24, 0:32]
    grad = np.stack([(y * 4 + x) % 256, (x * 3) % 256, (y * 5) % 256], -1).astype(np.uint8)
    dec = J.decode_jpeg_pixels(J.encode_jpeg(grad))
    err = np.abs(dec.astype(int) - grad.astype(int))
    assert err.mean() < 3 and err.max() < 16

    g = J.decode_jpeg_pixels(J.encode_jpeg(grad, gray=True))
    assert np.array_equal(g[..., 0], g[..., 1]) and np.array_equal(g[..., 1], g[..., 2])

    sub = J.decode_jpeg_pixels(J.encode_jpeg(grad, subsample=True))
    assert np.abs(sub.astype(int) - grad.astype(int)).mean() < 5

    for kw in (dict(restart_interval=2), dict(restart_interval=3, subsample=True),
               dict(restart_interval=1, gray=True)):
        base = {k: v for k, v in kw.items() if k != "restart_interval"}
        assert np.array_equal(
            J.decode_jpeg_pixels(J.encode_jpeg(grad, **kw)),
            J.decode_jpeg_pixels(J.encode_jpeg(grad, **base)),
        ), kw

    # odd (non-multiple-of-8/16) dimensions crop back exactly
    odd = np.random.RandomState(3).randint(0, 256, size=(13, 11, 3), dtype=np.uint8)
    assert J.decode_jpeg_pixels(J.encode_jpeg(odd)).shape == (13, 11, 3)
    assert J.decode_jpeg_pixels(J.encode_jpeg(odd, subsample=True)).shape == (13, 11, 3)

    with pytest.raises(ValueError, match="not a JPEG"):
        J.decode_jpeg_pixels(b"BMnope")


def test_jpeg_through_spark_real_decoder(spark):
    """decode_features(decoder='real') sniffs JPEG by FFD8 magic; a
    constant-color JPEG pools to the exact color in every bucket, and
    resize_image re-encodes JPEG payloads as JPEG."""
    from torchestra_spark.functions import jpeg as J

    px = np.full((16, 16, 3), 200, dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [J.encode_jpeg(px)]})
    )
    rows = {
        r["doc_id"]: r["features"]
        for r in M.decode_features(df, n_features=4, decoder="real").collect()
    }
    assert np.allclose(rows[1], [200.0 / 255.0] * 4, atol=2.0 / 255.0)

    out = {r["doc_id"]: bytes(r["payload"]) for r in M.resize_image(df, width=8, height=8).collect()}
    assert out[1][:2] == b"\xff\xd8"
    back = J.decode_jpeg_pixels(out[1])
    assert back.shape == (8, 8, 3) and np.abs(back.astype(int) - 200).max() <= 4


def test_avi_codec_roundtrip_and_sampling():
    """Uncompressed-AVI container codec: bit-exact frame roundtrip,
    every-Nth sampling with chunk-skip seek, max_frames cap, and the
    compressed-stream guard."""
    from torchestra_spark.functions import video as V

    rng = np.random.RandomState(5)
    frames = rng.randint(0, 256, size=(7, 6, 5, 3), dtype=np.uint8)
    avi = V.encode_avi(frames)
    idx, dec = V.decode_avi_frames(avi)
    assert idx.tolist() == list(range(7)) and np.array_equal(dec, frames)
    idx2, dec2 = V.decode_avi_frames(avi, every_n=3)
    assert idx2.tolist() == [0, 3, 6] and np.array_equal(dec2, frames[::3])
    idx3, dec3 = V.decode_avi_frames(avi, every_n=2, max_frames=2)
    assert idx3.tolist() == [0, 2] and np.array_equal(dec3, frames[[0, 2]])
    with pytest.raises(ValueError, match="not an AVI"):
        V.decode_avi_frames(b"RIFFxxxxWAVE")
    # compressed fourcc guard: flip the handler to a codec fourcc
    bad = bytearray(avi)
    k = bad.find(b"DIB ")
    bad[k : k + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        V.decode_avi_frames(bytes(bad))


def test_frame_sample_real_through_spark(spark):
    """frame_sample demuxes AVI payloads in Spark and pools per-frame
    luminance: constant-gray frames give exact feature values, frame
    indices follow the every_n stride, NULL payloads emit no rows."""
    from torchestra_spark.functions import video as V

    vals = [40, 80, 120, 160, 200]
    frames = np.stack([np.full((8, 8, 3), v, dtype=np.uint8) for v in vals])
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [V.encode_avi(frames), None]})
    )
    rows = V.frame_sample(df, every_n=2, frame_features=4).collect()
    assert {r["doc_id"] for r in rows} == {1}
    got = {r["frame_idx"]: r["features"] for r in rows}
    assert sorted(got) == [0, 2, 4]
    for fi in got:
        assert np.allclose(got[fi], [vals[fi] / 255.0] * 4, atol=1e-5)
    # a frame of only NULL payloads emits no rows; an empty one is not AVI
    nulls = spark.createDataFrame([(3, None), (4, None)], "doc_id long, payload binary")
    assert V.frame_sample(nulls, every_n=2, frame_features=4).collect() == []
    empty = spark.createDataFrame([(5, b"")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="not an AVI payload"):
        V.frame_sample(empty, every_n=2, frame_features=4).collect()


def test_media_stages_keep_bigint_ids_exact(spark):
    """Ids above 2**53 that share a batch with NULL ids come back exact
    from the media stages, and the NULL ids stay NULL.  Eight trailing
    NULLs reach every partition of the round-robin spread up to 8."""
    from collections import Counter

    ids = [2**60 + 1 + i for i in range(32)] + [None] * 8
    df = spark.createDataFrame(
        [(i, None) for i in ids], "doc_id bigint, payload binary"
    ).coalesce(1)
    resized = M.resize_image(df).collect()
    assert Counter(r["doc_id"] for r in resized) == Counter(ids)
    frames = M.frame_sample_stub(df, every_n=10, frame_features=4).collect()
    assert Counter((r["doc_id"], r["frame_idx"]) for r in frames) == Counter((i, 0) for i in ids)


def test_winnow_release_with_fp_freq_cap(spark):
    """Regression (r7 self-review): with max_fp_freq SET (the default),
    winnow_near_dups rebinds its fps frame through the boilerplate
    anti-join AFTER pinning — _torchestra_pins must still hold the
    PINNED frame, not the derived join plan, or release_pinned silently
    leaks the (id, fp) blocks."""
    docs = [(i, "the quick brown fox %d jumps over the lazy dog %d" % (i % 5, i % 5))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = _stored_rdd_ids(spark)
    out = D.winnow_near_dups(df, "text", "doc_id", max_fp_freq=1000)
    assert out.count() > 0
    mine = _stored_rdd_ids(spark) - base
    assert mine
    D.release_pinned(out)
    left = mine & _stored_rdd_ids(spark)
    assert not left, f"winnow_near_dups leaked with max_fp_freq set: {left}"


def test_exact_knn_batch_boundary_ties(spark):
    """Regression (r7 self-review): >k identical vectors tied AT the
    local top-k boundary inside one Arrow batch — the local selection
    must keep the id-ascending ones (a bare argpartition keeps an
    arbitrary subset, which the global window cannot repair)."""
    base = np.ones(8)
    X = np.vstack([np.tile(base, (15, 1)),               # ids 0..14: all tied sim=1
                   np.random.RandomState(1).randn(20, 8)])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(35), "embedding": [r.tolist() for r in X]})
    ).coalesce(1)  # one batch -> the eviction happens locally
    out = S.exact_knn_batch(df, "embedding", "vec_id", base[None, :], k=10)
    got = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert got == list(range(10)), got


_BOOKS = np.array([[[0.0, 0.0], [10.0, 10.0]]])  # m=1 subspace, ks=2, dim=2
_VEC_STAGES = {
    "pq_encode": lambda df: S.pq_encode(df, "embedding", _BOOKS),
    "ivfpq_encode": lambda df: S.ivfpq_encode(df, "embedding", np.zeros((1, 2)), _BOOKS),
    "lsh_buckets": lambda df: S.lsh_buckets(df, "embedding", 2, n_planes=4),
    # infers dim from the first non-NULL vector, then runs lsh_buckets
    "pairwise_topk_per_row": lambda df: S.pairwise_topk_per_row(df, "embedding", "vec_id"),
}
_ERR_STAGE = {"pairwise_topk_per_row": "lsh_buckets"}


@pytest.mark.parametrize("rows, err", [
    # a NULL between good rows shifted every later vector of the flat
    # buffer: row 2 silently got row 3's first half
    ([(1, [0.0, 0.0]), (2, None), (3, [10.0, 10.0, 0.0, 0.0])], "1 NULL embedding"),
    ([(1, None)], "1 NULL embedding"),  # a lone NULL failed inside numpy's reshape
    ([(1, [0.0, 0.0]), (2, [10.0, 10.0, 0.0, 0.0])], r"1 embedding\(s\) with length != dim=2"),
    ([(1, None), (2, [0.0, 0.0])], "1 NULL embedding"),
], ids=["null_between", "lone_null", "wrong_length", "null_first"])
@pytest.mark.parametrize("stage", sorted(_VEC_STAGES))
def test_vector_stages_reject_null_and_wrong_length(spark, stage, rows, err):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match=f"ValueError: {_ERR_STAGE.get(stage, stage)}: {err}"):
        _VEC_STAGES[stage](df).collect()


def test_train_ivfpq_collects_one_sample(spark, embs, monkeypatch):
    """train_ivfpq trains its coarse centroids and its residual
    codebooks from ONE collected training sample."""
    calls = []
    orig = S._train_sample

    def counting(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(S, "_train_sample", counting)
    C, B = S.train_ivfpq(embs, "embedding", n_centroids=4, m=8, ks=16, sample=200, iters=2)
    assert len(calls) == 1
    assert C.shape == (4, 64) and B.shape == (8, 16, 8)


@pytest.mark.parametrize("train", [
    lambda df: S.train_ivf_centroids(df, "embedding", n_centroids=2),
    lambda df: S.train_pq(df, "embedding", m=1, ks=2),
    lambda df: S.train_ivfpq(df, "embedding", n_centroids=2, m=1, ks=2),
], ids=["ivf", "pq", "ivfpq"])
def test_trainers_reject_empty_input(spark, train):
    """A trainer over an empty frame raises a named ValueError at the
    collect, not a numpy error further on."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="vector collect: no rows in 'embedding'"):
        train(empty)


def test_avi_top_down_rows(spark):
    """Regression (r7 self-review): negative biHeight = top-down DIB
    rows; the decoder must NOT flip them."""
    from torchestra_spark.functions import video as V

    frames = np.random.RandomState(7).randint(0, 256, size=(3, 5, 4, 3), dtype=np.uint8)
    for td in (False, True):
        idx, dec = V.decode_avi_frames(V.encode_avi(frames, top_down=td))
        assert np.array_equal(dec, frames), f"top_down={td}"
