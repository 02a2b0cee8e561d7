"""Property-based tests (hypothesis).

Mirrors the reference's determinism/edge-case coverage style with
generated inputs: t-digest invariants, sort_counts ordering contract,
state-artifact round-trips (driver-side kernels, no Spark), and the
pipeline's staged fit and transform against inlined composition over
random feature DAGs (on Spark).
"""

import math
import os

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from torchestra_spark.operators.lookups import sort_counts
from torchestra_spark.state import StateArtifact
from torchestra_spark.tdigest import TDigest, digest_from_state, digest_to_state


@st.composite
def float_arrays(draw, min_size=1, max_size=500):
    n = draw(st.integers(min_size, max_size))
    return draw(
        st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
            min_size=n,
            max_size=n,
        )
    )


@settings(max_examples=30, deadline=None)
@given(float_arrays())
def test_tdigest_cdf_monotone_and_bounded(xs):
    td = TDigest(100.0)
    t = td.new_digest()
    td.add_values(t, np.array(xs))
    td.finalize(t)
    grid = np.linspace(min(xs) - 1, max(xs) + 1, 50)
    c = td.cdf(t, grid)
    assert np.all(c >= 0.0) and np.all(c <= 1.0)
    assert np.all(np.diff(c) >= -1e-12)  # non-decreasing
    assert td.cdf(t, np.array([min(xs) - 10]))[0] == 0.0
    assert td.cdf(t, np.array([max(xs) + 10]))[0] == 1.0


@settings(max_examples=30, deadline=None)
@given(float_arrays(min_size=2))
def test_tdigest_quantile_within_range(xs):
    td = TDigest(100.0)
    t = td.new_digest()
    td.add_values(t, np.array(xs))
    td.finalize(t)
    qs = td.quantile(t, np.array([0.0, 0.25, 0.5, 0.75, 1.0]))
    assert np.all(qs >= min(xs) - 1e-9) and np.all(qs <= max(xs) + 1e-9)
    assert np.all(np.diff(qs) >= -1e-9)


@settings(max_examples=30, deadline=None)
@given(float_arrays(min_size=50, max_size=400), st.integers(2, 6))
def test_tdigest_merge_close_to_single(xs, shards):
    xs = np.array(xs)
    td = TDigest(200.0)
    merged = td.new_digest()
    for part in np.array_split(xs, shards):
        if len(part) == 0:
            continue
        s = td.new_digest()
        td.add_values(s, part)
        td.merge_digests(merged, s)
    td.finalize(merged)
    med_est = td.quantile(merged, np.array([0.5]))[0]
    lo, hi = np.quantile(xs, [0.2, 0.8])
    assert lo - 1e-6 <= med_est <= hi + 1e-6


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(st.text(max_size=8), st.integers(0, 10_000), max_size=40))
def test_sort_counts_contract(counts):
    # count DESC, key ASC tiebreak; a permutation of the keys
    out = sort_counts(counts)
    assert sorted(out) == sorted(counts.keys())
    for a, b in zip(out, out[1:]):
        assert counts[a] > counts[b] or (counts[a] == counts[b] and a < b)


@settings(max_examples=30, deadline=None)
@given(
    st.dictionaries(
        st.text(min_size=1, max_size=10),
        st.dictionaries(
            st.text(min_size=1, max_size=10),
            st.one_of(
                st.floats(allow_nan=False),
                st.integers(-(2**53), 2**53),
                st.text(max_size=20),
                st.lists(st.floats(allow_nan=False), max_size=5),
            ),
            max_size=5,
        ),
        max_size=5,
    )
)
def test_state_artifact_roundtrip(states):
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/s.json"
        StateArtifact(states).save(path)
        back = StateArtifact.load(path).states
    assert back == states


def test_state_artifact_inf_nan(tmp_path):
    path = str(tmp_path / "s.json")
    s = {"op": {"a": math.inf, "b": -math.inf, "c": 1.5, "d": 5e-324}}
    StateArtifact(s).save(path)
    assert os.listdir(tmp_path) == ["s.json"]  # no .tmp left behind
    back = StateArtifact.load(path).states
    assert back["op"]["a"] == math.inf and back["op"]["b"] == -math.inf
    assert back["op"]["c"] == 1.5 and back["op"]["d"] == 5e-324


def test_tdigest_nan_filtered_by_sketch_op():
    from torchestra_spark.operators.scalers import TDigestDistribution

    op = TDigestDistribution(compression=100)
    d = op.partial_sketch(np.array([1.0, np.nan, 2.0, np.nan, 3.0]))
    assert d.processed_weight + d.unprocessed_weight == 3.0


# ------------------------------------------------------------- winnowing
def _py_winnow(tokens, k, w):
    """Pure-python mirror of winnow_fingerprints' modular arithmetic
    (validated token-for-token against the Spark expression in
    tests/test_text_dedup.py::test_winnow_guarantee_and_pure_python_parity)."""
    from torchestra_spark.functions.text import WINNOW_MOD as M, WINNOW_PRIME as P

    hs = []
    for tok in tokens:
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
    return {min(gs[i : i + w]) for i in range(max(len(gs) - w + 1, 1))}


_tok = st.text(alphabet="abcdefgh", min_size=1, max_size=4)


@given(
    pre_a=st.lists(_tok, max_size=20),
    suf_a=st.lists(_tok, max_size=20),
    pre_b=st.lists(_tok, max_size=20),
    suf_b=st.lists(_tok, max_size=20),
    shared=st.lists(_tok, min_size=6, max_size=15),  # >= w+k-1 = 6
    k_w=st.tuples(st.integers(2, 4), st.integers(2, 5)),
)
@settings(max_examples=200, deadline=None)
def test_winnow_shared_run_guarantee(pre_a, suf_a, pre_b, suf_b, shared, k_w):
    # Schleimer et al. thm: docs sharing a run of >= w+k-1 consecutive
    # tokens share at least one winnowed fingerprint
    k, w = k_w
    if len(shared) < w + k - 1:
        shared = shared + ["pad"] * (w + k - 1 - len(shared))
    fa = _py_winnow(pre_a + shared + suf_a, k, w)
    fb = _py_winnow(pre_b + shared + suf_b, k, w)
    assert fa & fb


# ------------------------------------------------------- codec properties
@given(
    h=st.integers(1, 6),
    w=st.integers(1, 6),
    c=st.sampled_from([1, 2, 3, 4]),
    filters=st.lists(st.integers(0, 4), min_size=6, max_size=6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=80, deadline=None)
def test_png_unfilter_roundtrip_property(h, w, c, filters, seed):
    """Any shape × color type × per-row filter combination unfilters
    back to the exact pixels (drives the Sub/Up/Average/Paeth
    recurrences through degenerate 1-pixel rows and columns)."""
    from tests.test_text_dedup import _png_with_filters
    from torchestra_spark.functions import multimodal as M

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, c), dtype=np.uint8)
    got = M.decode_png_pixels(_png_with_filters(px, filters[:h]))
    exp = {1: np.repeat(px, 3, 2), 2: np.repeat(px[..., :1], 3, 2),
           4: px[..., :3], 3: px}[c]
    assert np.array_equal(got, exp)


@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    mode=st.sampled_from(["plain", "gray", "420", "rst"]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_decode_total_property(h, w, mode, seed):
    """encode_jpeg -> decode_jpeg_pixels is total over arbitrary shapes
    and modes: right output shape, and smooth (constant) content stays
    within the quantization bound."""
    from torchestra_spark.functions import jpeg as J

    v = seed % 256
    px = np.full((h, w, 3), v, dtype=np.uint8)
    kw = dict(plain={}, gray=dict(gray=True), **{"420": dict(subsample=True)},
              rst=dict(restart_interval=2))[mode]
    dec = J.decode_jpeg_pixels(J.encode_jpeg(px, **kw))
    assert dec.shape == (h, w, 3)
    if mode != "gray":  # gray drops chroma, compare luminance-ish only
        assert np.abs(dec.astype(int) - int(v)).max() <= 4
    else:
        # Rec.601 luminance of a gray-equal RGB is the value itself
        assert np.abs(dec[..., 0].astype(int) - int(v)).max() <= 4


def test_jpeg_no_trailing_restart_marker():
    """ADVICE r7: when the MCU count is an exact multiple of
    restart_interval, the encoder must NOT emit an RSTn after the final
    MCU (a nonconformant stream for strict external decoders).  16x16
    gray = 4 MCUs at interval 2; 16x8 = 2 MCUs at interval 2."""
    from torchestra_spark.functions import jpeg as J

    for h, w in ((16, 16), (8, 16), (16, 8)):
        px = np.full((h, w, 3), 128, dtype=np.uint8)
        data = J.encode_jpeg(px, gray=True, restart_interval=2)
        assert data.endswith(b"\xff\xd9")
        body = data[:-2]
        # the entropy stream may end with pad bits, never a full RSTn
        assert not (len(body) >= 2 and body[-2] == 0xFF and 0xD0 <= body[-1] <= 0xD7), (
            h, w, body[-4:].hex(),
        )
        # and it still decodes to the same content
        dec = J.decode_jpeg_pixels(data)
        assert np.abs(dec[..., 0].astype(int) - 128).max() <= 4


def test_jpeg_truncated_bitstream_raises_value_error():
    """ADVICE r7: aligning to a marker on data that contains none must
    raise a descriptive ValueError, not a bare IndexError."""
    import pytest

    from torchestra_spark.functions import jpeg as J

    br = J._BitReader(b"\x12\x34\x56", 0)
    with pytest.raises(ValueError, match="truncated"):
        br.align_to_marker()


@given(
    n=st.integers(1, 6),
    h=st.integers(1, 8),
    w=st.integers(1, 8),
    every=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_avi_roundtrip_property(n, h, w, every, seed):
    """Uncompressed AVI roundtrips bit-exactly for any frame count /
    shape (incl. rows needing 4-byte padding), and every_n sampling
    returns exactly frames[::every_n]."""
    from torchestra_spark.functions import video as V

    frames = np.random.RandomState(seed).randint(
        0, 256, size=(n, h, w, 3), dtype=np.uint8
    )
    idx, dec = V.decode_avi_frames(V.encode_avi(frames), every_n=every)
    assert idx.tolist() == list(range(0, n, every))
    assert np.array_equal(dec, frames[::every])


# ------------------------------------------------- pipeline composition
# Random small feature DAGs over dirty frames (NULL, NaN, ±inf): chains,
# feature-on-feature references, multi-input heads and one-level
# diamonds.  Checked against two independent compositions: the inlined
# ``output_expr`` for transform, and a wave-by-wave fit of each op alone
# over ``transform`` of the features fitted before it.
_SOURCES = ["a", "b"]
_TAIL_OPS = ["z", "mm", "clamp", "nan"]  # z, mm are fitted


def _make_op(code):
    from torchestra_spark import Clamp, Diff, MinMaxScale, NanToNum, Ratio, StandardScore

    return {
        "z": StandardScore,
        "mm": MinMaxScale,
        "clamp": lambda: Clamp(-3.0, 3.0),
        "nan": NanToNum,
        "ratio": Ratio,
        "diff": Diff,
    }[code]()


@st.composite
def feature_dags(draw):
    """A list of (input refs, op codes); feature i is named f{i} and
    may read the sources and f0..f{i-1}."""
    spec = []
    for i in range(draw(st.integers(1, 5))):
        refs = _SOURCES + [f"f{j}" for j in range(i)]
        tail = draw(st.lists(st.sampled_from(_TAIL_OPS), min_size=1, max_size=3))
        if i >= 1 and draw(st.booleans()):
            pair = draw(st.lists(st.sampled_from(refs), min_size=2, max_size=2))
            spec.append((pair, [draw(st.sampled_from(["ratio", "diff"]))] + tail))
        else:
            spec.append(([draw(st.sampled_from(refs))], tail))
    return spec


def _pipeline(spec):
    from torchestra_spark import Feature, Pipeline

    return Pipeline(
        {f"f{i}": Feature(refs if len(refs) > 1 else refs[0], [_make_op(c) for c in codes])
         for i, (refs, codes) in enumerate(spec)}
    )


_DIRTY = st.one_of(
    st.sampled_from([None, math.nan, math.inf, -math.inf]),
    st.floats(-100, 100, allow_nan=False),
)

# a diamond under a multi-input head: f0 feeds f1 and f2, f3 = f1 / f2
_DIAMOND = [(["a"], ["z"]), (["f0"], ["z"]), (["f0"], ["mm", "clamp"]), (["f1", "f2"], ["ratio", "z"])]


def _same(x, y):
    return x == y or (isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y))


# generation is timed in the process that also runs the py4j threads,
# so its too_slow health check would measure Spark, not the strategies
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@example(spec=_DIAMOND, rows=[(1.0, 2.0), (None, 3.0), (math.nan, -math.inf), (4.0, 0.5)])
@given(
    spec=feature_dags(),
    rows=st.lists(st.tuples(_DIRTY, _DIRTY), min_size=1, max_size=8),
)
def test_staged_fit_and_transform_match_inlined_composition(spark, spec, rows):
    import json

    from pyspark.sql import functions as F

    from torchestra_spark import Feature, Pipeline

    def num(v):
        return F.lit(v).cast("double")

    # built in the JVM (no Python worker per job), one partition
    df = spark.range(1).select(
        F.inline(F.array(*[
            F.struct(F.lit(i).cast("long").alias("id"), num(a).alias("a"), num(b).alias("b"))
            for i, (a, b) in enumerate(rows)
        ]))
    )
    pipe = _pipeline(spec).fit(df)
    names = list(pipe.features)

    # transform == the inlined output_expr, row for row
    got = pipe.transform(df).select("id", *names).orderBy("id").collect()
    want = df.select("id", *[pipe.output_expr(n).alias(n) for n in names]).orderBy("id").collect()
    for g, w in zip(got, want):
        assert all(_same(g[n], w[n]) for n in names), (g, w)
    assert len(got) == len(want) == len(rows)

    # staged fit == each wave fit by hand over transform of earlier features
    ref = _pipeline(spec)
    fitted = set()
    for wave in ref.waves:
        done = []
        for n in ref._feature_order():
            own = {p for p in ref.stats_op_paths if p.rpartition(".")[0] == n}
            feature_refs = [r for r in ref.features[n].input_refs if r in ref.features]
            if own <= fitted and all(r in done for r in feature_refs):
                done.append(n)
        frame = Pipeline({n: ref.features[n] for n in done}).transform(df)
        inputs = []
        for path in wave:
            name, _, idx = path.rpartition(".")
            feat = ref.features[name]
            ops = feat.ops[: int(idx)]
            cols = [F.col(r) for r in feat.input_refs]
            col = ops[0].expr(*cols) if len(cols) > 1 else cols[0]
            for op in ops[1:] if len(cols) > 1 else ops:
                col = op.expr(col)
            inputs.append(col.alias(f"x{len(inputs)}"))
        # one single-wave pipeline over the inputs as source columns
        alone = Pipeline({f"y{j}": Feature(f"x{j}", [ref._op(p)]) for j, p in enumerate(wave)})
        alone.fit(frame.select(*inputs))
        fitted.update(wave)
    for path in pipe.stats_op_paths:
        staged, by_hand = pipe._op(path).get_state(), ref._op(path).get_state()
        assert json.dumps(staged, sort_keys=True) == json.dumps(by_hand, sort_keys=True), path
