"""Token/sequence op goldens — exact equality, mirroring
/root/reference/src/torchestra/test_sparse_slices.py:14-84, over the
synthesized input_hint table (FIXTURES.md F1)."""

import numpy as np
import pytest

from torchestra_spark.io.sources import tokenized_sequences
from torchestra_spark.operators.sequences import (
    SparseLen,
    SparseMapSequences,
    SparseTrunc,
    SparseTruncPad,
    flatten_values,
    with_offsets,
)
from torchestra_spark import Feature, Pipeline


@pytest.fixture(scope="module")
def toks(spark):
    return tokenized_sequences(spark, 1000, seed=42, partitions=4).cache()


@pytest.fixture(scope="module")
def toks_pd(toks):
    pdf = toks.toPandas().sort_values("doc_id", ignore_index=True)
    pdf["tokens"] = pdf["tokens"].map(np.asarray)
    return pdf


def _col(df, name):
    return [r[name] for r in df.select("doc_id", name).orderBy("doc_id").collect()]


def test_generator_invariants(toks_pd):
    assert len(toks_pd) == 1000
    assert (toks_pd["tokens"].map(len) == toks_pd["n_tok"]).all()
    assert toks_pd["n_tok"].max() <= 512
    assert set(toks_pd["source"]) <= {"web", "book", "code", "wiki"}
    flat = np.concatenate([t for t in toks_pd["tokens"] if len(t)])
    assert flat.min() >= 0 and flat.max() < 50257


def test_generator_partition_invariance(spark):
    a = tokenized_sequences(spark, 200, seed=42, partitions=1).toPandas()
    b = tokenized_sequences(spark, 200, seed=42, partitions=7).toPandas()
    a = a.sort_values("doc_id", ignore_index=True)
    b = b.sort_values("doc_id", ignore_index=True)
    assert (a["n_tok"] == b["n_tok"]).all()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert np.array_equal(x, y)
    assert (a["source"] == b["source"]).all()


def _column_checksums(df):
    """Order-independent checksum of every column (the exact sum of its
    values' xxhash64) plus the row count."""
    from pyspark.sql import functions as F

    sums = [F.sum(F.xxhash64(c).cast("decimal(38,0)")).cast("string").alias(c) for c in df.columns]
    return df.agg(*sums, F.count("*").alias("__n")).first().asDict()


def test_generator_output_pinned(spark):
    """Both fixture generators' output is pinned bit for bit: the DuckDB
    oracle replays ``tokenized_sequences`` in SQL, and every fixture
    built from either must not move when their implementation does."""
    from torchestra_spark.io.sources import feature_events

    tok = tokenized_sequences(spark, 2000, seed=42, partitions=3)
    assert tok.schema.simpleString() == (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>"
    )
    assert _column_checksums(tok) == {
        "doc_id": "-6828725222634366803",
        "tokens": "21455884813337770892",
        "n_tok": "-78716386675451356474",
        "source": "-1576636421196255964936",
        "__n": 2000,
    }
    fe = feature_events(spark, n_entities=200, seed=7, partitions=2)
    assert fe.schema.simpleString() == (
        "struct<user_id:bigint,feature_ts:timestamp,fval:double,seq:bigint>"
    )
    assert _column_checksums(fe) == {
        "user_id": "673760207056082084190",
        "feature_ts": "282932637168167763621",
        "fval": "816247145817966236905",
        "seq": "1492766750623339385703",
        "__n": 4065,
    }


def test_sparse_len(toks, toks_pd):
    out = Pipeline({"L": Feature("tokens", [SparseLen()])}).fit_transform(toks)
    assert _col(out, "L") == toks_pd["tokens"].map(len).tolist()


def test_sparse_trunc(toks, toks_pd):
    # exact equality — test_sparse_slices.py:39-52 semantics
    out = Pipeline({"t": Feature("tokens", [SparseTrunc(16)])}).fit_transform(toks)
    got = _col(out, "t")
    for g, ref in zip(got, toks_pd["tokens"]):
        assert np.array_equal(np.asarray(g), ref[:16])


def test_sparse_trunc_pad(toks, toks_pd):
    # golden semantics test_sparse_slices.py:63-70: truncate then right-pad
    out = Pipeline(
        {"t": Feature("tokens", [SparseTruncPad(16, value=0, elem_type="int")])}
    ).fit_transform(toks)
    got = _col(out, "t")
    for g, ref in zip(got, toks_pd["tokens"]):
        exp = np.zeros(16, dtype=np.int32)
        r = ref[:16]
        exp[: len(r)] = r
        assert np.array_equal(np.asarray(g), exp)
        assert len(g) == 16


def test_sparse_map_sequences_sum(toks, toks_pd):
    # per-row sums — test_sparse_slices.py:73-84
    out = Pipeline({"s": Feature("tokens", [SparseMapSequences("sum")])}).fit_transform(toks)
    exp = [float(t.sum()) for t in toks_pd["tokens"]]
    assert np.allclose(_col(out, "s"), exp)


def test_sparse_map_sequences_builtins(toks, toks_pd):
    pipe = Pipeline(
        {
            "mx": Feature("tokens", [SparseMapSequences("max")]),
            "mn": Feature("tokens", [SparseMapSequences("min")]),
            "avg": Feature("tokens", [SparseMapSequences("mean")]),
        }
    )
    out = pipe.fit_transform(toks)
    nonempty = toks_pd[toks_pd["n_tok"] > 0]
    rows = {r["doc_id"]: r for r in out.select("doc_id", "mx", "mn", "avg").collect()}
    for _, t in nonempty.iterrows():
        r = rows[t["doc_id"]]
        assert r["mx"] == t["tokens"].max()
        assert r["mn"] == t["tokens"].min()
        assert np.isclose(r["avg"], t["tokens"].astype(np.float64).mean())


def test_sparse_map_sequences_custom(toks, toks_pd):
    # arbitrary numpy reducer via Arrow UDF fallback
    out = Pipeline(
        {"v": Feature("tokens", [SparseMapSequences(lambda a: float(np.var(a)) if len(a) else None)])}
    ).fit_transform(toks)
    rows = {r["doc_id"]: r["v"] for r in out.select("doc_id", "v").collect()}
    for _, t in toks_pd[toks_pd["n_tok"] > 0].iterrows():
        assert np.isclose(rows[t["doc_id"]], np.var(t["tokens"]))


def test_flatten_and_offsets(spark, toks, toks_pd):
    flat = flatten_values(toks, "tokens", keep=["doc_id"])
    assert flat.count() == int(toks_pd["n_tok"].sum())
    off = with_offsets(toks.limit(50), "tokens", "doc_id").orderBy("doc_id").collect()
    begin = 0
    for r in off:
        assert r["begin"] == begin
        assert r["end"] == begin + len(r["tokens"])
        begin = r["end"]


def test_scaler_over_sequence_feature(toks, toks_pd):
    # compose: per-row token sum -> StandardScore (fit over derived col)
    from torchestra_spark import StandardScore

    pipe = Pipeline(
        {
            "s": Feature("tokens", [SparseMapSequences("sum")]),
            "z": Feature("s", [StandardScore()]),
        }
    )
    out = pipe.fit_transform(toks)
    sums = np.array([float(t.sum()) for t in toks_pd["tokens"]])
    exp = (sums - sums.mean()) / sums.std(ddof=1)
    got = np.array(_col(out, "z"))
    assert np.allclose(got, exp)


def test_partitioned_layout_prunes(spark, toks, tmp_path):
    # Iceberg-layout write + partition pruning at the scan
    from torchestra_spark.io.sources import read_partitioned, write_partitioned

    path = str(tmp_path / "toks_part")
    write_partitioned(toks, path, ["source"])
    back = read_partitioned(spark, path)
    assert back.count() == toks.count()
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(back["source"] == "web").explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "source" in plan
    n_web = back.filter(back["source"] == "web").count()
    assert 0 < n_web < toks.count()


def test_pack_sequences_exact_and_bucket_invariant(spark):
    from pyspark.sql import functions as F

    from torchestra_spark.operators.sequences import pack_sequences

    rows = [
        (1, [1, 2, 3]),
        (2, [4, 5]),
        (3, []),            # empty doc vanishes from the stream
        (4, [6, 7, 8, 9]),
        (5, [10]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r.block_id: (list(r.tokens), r.n_tok)
           for r in pack_sequences(df, "tokens", "doc_id", block_len=4).collect()}
    # stream in id order: 1 2 3 4 5 6 7 8 9 10 -> [1..4] [5..8] [9,10]
    assert out == {0: ([1, 2, 3, 4], 4), 1: ([5, 6, 7, 8], 4), 2: ([9, 10], 2)}

    # order-preserving bucketing must not change block contents
    out2 = {r.block_id: (list(r.tokens), r.n_tok)
            for r in pack_sequences(df.repartition(7), "tokens", "doc_id",
                                    block_len=4,
                                    bucket=F.floor(F.col("doc_id") / 2)).collect()}
    assert out2 == out


def test_pack_sequences_auto_bucket_parallel_and_invariant(spark):
    from pyspark.sql import functions as F

    from torchestra_spark.operators.sequences import _range_bucket, pack_sequences

    rows = [(i, [i * 3, i * 3 + 1, i * 3 + 2]) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").repartition(8)
    # the derived bucket must actually spread the prefix-sum window: the
    # serial default (lit(0)) was the r3 scale footgun
    nb = min(256, 2 * spark.sparkContext.defaultParallelism)
    n_buckets = df.select(_range_bucket(df, "doc_id", nb).alias("b")).distinct().count()
    assert n_buckets > 4
    # and it must be order-preserving: auto == explicit serial bucket
    auto = {r.block_id: list(r.tokens)
            for r in pack_sequences(df, "tokens", "doc_id", block_len=7).collect()}
    serial = {r.block_id: list(r.tokens)
              for r in pack_sequences(df, "tokens", "doc_id", block_len=7,
                                      bucket=F.lit(0)).collect()}
    assert auto == serial
    # string ids range-bucket too (binary collation matches orderBy)
    sdf = df.select(F.format_string("doc%05d", "doc_id").alias("doc_id"), "tokens")
    auto_s = {r.block_id: list(r.tokens)
              for r in pack_sequences(sdf, "tokens", "doc_id", block_len=7).collect()}
    assert auto_s == auto
    n_buckets_s = sdf.select(_range_bucket(sdf, "doc_id", nb).alias("b")).distinct().count()
    assert n_buckets_s > 4


def test_pack_sequences_doc_spanning_many_blocks(spark):
    """r8 (slice-based reassembly): a document longer than several
    blocks must be cut into per-block slices that reassemble exactly —
    the case where one doc contributes to 4+ blocks and interior blocks
    are single-slice."""
    from torchestra_spark.operators.sequences import pack_sequences

    rows = [
        (1, [1, 2]),
        (2, list(range(10, 25))),  # 15 tokens: spans blocks 0..4 at B=4
        (3, [99]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r.block_id: (list(r.tokens), r.n_tok)
           for r in pack_sequences(df, "tokens", "doc_id", block_len=4).collect()}
    stream = [1, 2] + list(range(10, 25)) + [99]
    expect = {
        i: (stream[i * 4:(i + 1) * 4], len(stream[i * 4:(i + 1) * 4]))
        for i in range((len(stream) + 3) // 4)
    }
    assert out == expect


def test_pack_sequences_empty_input(spark):
    from torchestra_spark.operators.sequences import pack_sequences

    df = spark.createDataFrame([], "doc_id long, tokens array<int>")
    out = pack_sequences(df, "tokens", "doc_id", block_len=4)
    assert out.schema.simpleString() == \
        "struct<block_id:bigint,tokens:array<int>,n_tok:int>"
    assert out.count() == 0


def test_pack_sequences_local_conserves_tokens(spark):
    from collections import Counter

    from torchestra_spark.operators.sequences import pack_sequences_local

    rows = [(i, list(range(i * 10, i * 10 + (i % 7) + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").repartition(5)
    out = pack_sequences_local(df, "tokens", block_len=16).collect()
    # token conservation: every input token appears exactly once
    got = Counter(t for r in out for t in r.tokens)
    exp = Counter(t for _, ts in rows for t in ts)
    assert got == exp
    # at most one short block per partition; all others exactly block_len
    short = [r for r in out if r.n_tok < 16]
    assert len(short) <= 5
    assert all(r.n_tok == 16 for r in out if r not in short)
    # globally unique ids
    ids = [r.block_id for r in out]
    assert len(ids) == len(set(ids))
