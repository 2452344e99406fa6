"""Property-based tests (hypothesis): scalar transforms match independent
Python reimplementations on arbitrary inputs — the randomized layer on top
of the fixed-fixture oracle gate (SURVEY.md §5: 'no property-based tests' in
the reference; ours adds them)."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from taico_data_integration_spark.ops.transforms import (
    SURROGATE_NULL,
    comma_decimal,
    normalize_name,
    surrogate_key_sql,
)


@pytest.fixture(scope="module")
def sc(spark):
    return spark


def _py_comma_decimal(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(s.replace(",", "."))
    except ValueError:
        return None


text_strategy = st.one_of(
    st.none(),
    st.text(alphabet="0123456789,.-eEn/a ", max_size=12),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda f: f"{f}".replace(".", ",")),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(text_strategy, min_size=1, max_size=20))
def test_comma_decimal_matches_python(sc, values):
    df = sc.createDataFrame([(v,) for v in values], "s string")
    got = [r.v for r in df.select(comma_decimal("s").alias("v")).collect()]
    expected = [_py_comma_decimal(v) for v in values]
    for g, e in zip(got, expected):
        if e is None or g is None:
            # Spark's non-ANSI cast accepts a few forms float() rejects
            # (e.g. trailing 'f'); only require agreement when both parse.
            continue
        assert abs(g - e) < 1e-9 or g == e


@settings(max_examples=12, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), min_size=1, max_size=10),
       st.lists(st.one_of(st.none(), st.text(max_size=20)), min_size=1, max_size=10))
def test_surrogate_key_matches_python(sc, col_a, col_b):
    n = min(len(col_a), len(col_b))
    rows = list(zip(col_a[:n], col_b[:n]))
    df = sc.createDataFrame(rows, "a string, b string")
    got = [r.k for r in df.selectExpr(f"{surrogate_key_sql('a', 'b')} AS k").collect()]
    expected = [
        hashlib.md5(
            f"{a if a is not None else SURROGATE_NULL}-{b if b is not None else SURROGATE_NULL}".encode()
        ).hexdigest()
        for a, b in rows
    ]
    assert got == expected


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(max_size=30), min_size=1, max_size=10))
def test_normalize_name_matches_python(sc, values):
    df = sc.createDataFrame([(v,) for v in values], "s string")
    got = [r.v for r in df.select(normalize_name("s").alias("v")).collect()]
    expected = [re.sub("[^a-zA-Z0-9]", "", v).lower() for v in values]
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 30),                       # id pool, collisions likely
            st.sampled_from(["g1", "g2"]),
            st.floats(-50, 50, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from([1.0, 5.0, 12.5]),
)
def test_band_join_matches_naive(sc, rows, eps):
    """band_join (bucketed equi-join) == naive all-pairs filter, any input."""
    from taico_data_integration_spark.ops.joins import band_join

    uniq = {(i, g): v for i, g, v in rows}
    data = [(i, g, float(v)) for (i, g), v in uniq.items()]
    df = sc.createDataFrame(data, "id long, g string, v double")
    got = sorted(
        (r.id_l, r.g, r.id_r)
        for r in band_join(df, df, "v", eps=eps, extra_keys=["g"])
        .where("id_l < id_r")
        .collect()
    )
    want = sorted(
        (a_id, a_g, b_id)
        for (a_id, a_g, a_v) in data
        for (b_id, b_g, b_v) in data
        if a_id < b_id and a_g == b_g and abs(a_v - b_v) <= eps
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 8),                 # key
            st.sampled_from(["I", "U", "D"]),  # op
            st.floats(0, 100, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cdc_collapse_matches_python(sc, ops):
    """cdc_collapse == a sequential dict replay of the changelog by seq."""
    from taico_data_integration_spark.ops.cdc import cdc_collapse

    rows = [(k, op, seq, float(v)) for seq, (k, op, v) in enumerate(ops)]
    df = sc.createDataFrame(rows, "id long, op string, seq long, val double")
    got = sorted(
        (r.id, r.val) for r in cdc_collapse(df, ["id"]).select("id", "val").collect()
    )
    state: dict[int, float] = {}
    for k, op, _seq, v in rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == sorted(state.items())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 6), st.floats(0, 9, allow_nan=False, width=16)),
             min_size=0, max_size=8),
    st.lists(
        st.tuples(
            st.integers(0, 6),                 # key
            st.sampled_from(["I", "U", "D"]),  # op
            st.floats(0, 100, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_cdc_apply_matches_python(sc, base, ops):
    """cdc_apply(base, log) == dict replay seeded from base: winners
    replace/delete base rows, untouched base rows pass through — including
    a D on a key the base never had (no resurrection, no error)."""
    from taico_data_integration_spark.ops.cdc import cdc_apply

    base_rows = list({k: (k, float(v)) for k, v in base}.values())  # unique keys
    log_rows = [(k, op, seq, float(v)) for seq, (k, op, v) in enumerate(ops)]
    base_df = sc.createDataFrame(base_rows or [(0, 0.0)], "id long, val double")
    if not base_rows:
        base_df = base_df.where("1=0")
    log_df = sc.createDataFrame(log_rows, "id long, op string, seq long, val double")
    got = sorted(
        (r.id, r.val)
        for r in cdc_apply(base_df, log_df, ["id"]).select("id", "val").collect()
    )
    state: dict[int, float] = dict(base_rows)
    for k, op, _seq, v in log_rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == sorted(state.items())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(-10, 10, allow_nan=False, width=16),
                  st.floats(0, 1000, allow_nan=False, width=16)),
        min_size=1,
        max_size=12,
    ),
    st.integers(2, 8),
)
def test_zorder_key_matches_python_interleave(sc, pts, bits):
    """The Z-curve Column expression == a pure-Python quantize+interleave
    (both sides do identical IEEE double ops, so codes match exactly),
    including out-of-bounds values clamped to the code range."""
    from pyspark.sql import functions as F

    from taico_data_integration_spark.ops.incremental import zorder_key

    lo_x, hi_x, lo_y, hi_y = -10.0, 10.0, 0.0, 1000.0
    df = sc.createDataFrame(pts, "x double, y double")
    got = [
        r.z
        for r in df.select(
            zorder_key({"x": (F.col("x"), lo_x, hi_x), "y": (F.col("y"), lo_y, hi_y)},
                       bits=bits).alias("z")
        ).collect()
    ]

    top = (1 << bits) - 1

    def code(v, lo, hi):
        import math

        span = (hi - lo) or 1.0
        return min(max(int(math.floor((v - lo) / span * (top + 1))), 0), top)

    def interleave(cx, cy):
        z = 0
        for b in range(bits):
            z |= ((cx >> b) & 1) << (b * 2)
            z |= ((cy >> b) & 1) << (b * 2 + 1)
        return z

    want = [interleave(code(x, lo_x, hi_x), code(y, lo_y, hi_y)) for x, y in pts]
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["hot"] * 6 + ["a", "b", "c"]), st.integers(0, 99)),
        min_size=0,
        max_size=60,
    ),
    buckets=st.sampled_from([1, 3, 16]),
    parts=st.sampled_from([1, 4]),
)
@settings(max_examples=15, deadline=None)
def test_salted_join_partitioning_invariant(sc, rows, buckets, parts):
    """salted_join == plain join for ANY row multiset, bucket count, and
    input partitioning (the salt must never change the result set)."""
    from pyspark.sql import Row

    from taico_data_integration_spark.ops.skew import salted_join

    big = sc.createDataFrame(
        [Row(k=k, v=v) for k, v in rows] or [Row(k="__none", v=0)]
    ).repartition(parts)
    small = sc.createDataFrame(
        [Row(k="hot", tag="H"), Row(k="b", tag="B"), Row(k="zz", tag="Z")]
    )
    for how in ("inner", "left"):
        plain = sorted(
            (r.k, r.v, r.tag) for r in big.join(small, "k", how).collect()
        )
        salted = sorted(
            (r.k, r.v, r.tag)
            for r in salted_join(big, small, ["k"], how, salt_buckets=buckets).collect()
        )
        assert salted == plain


@given(
    n=st.integers(0, 120),
    parts=st.sampled_from([1, 3, 8]),
    start=st.integers(1, 50),
)
@settings(max_examples=10, deadline=None)
def test_mint_ids_distributed_partitioning_invariant(sc, n, parts, start):
    """Dense ids in global key order, regardless of num_partitions or input
    layout — partitioned execution indistinguishable from the global form."""
    from pyspark.sql import functions as F

    from taico_data_integration_spark.ops.dims import mint_ids_distributed

    df = sc.range(n).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("name")
    ).repartition(4)
    got = sorted(
        (r.id, r.name)
        for r in mint_ids_distributed(df, ["name"], start_at=start, num_partitions=parts).collect()
    )
    expect = [(start + i, f"k{i:04d}") for i in range(n)]
    assert got == expect


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_image_codec_roundtrip_property(w, h, seed):
    """encode->decode identity for arbitrary small images, both codecs."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        decode_image_bytes,
        encode_bmp,
        encode_ppm,
    )

    arr = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_image_bytes(encode_bmp(arr))[0], arr)
    assert np.array_equal(decode_image_bytes(encode_ppm(arr))[0], arr)


@given(
    w=st.integers(1, 8),
    h=st.integers(1, 6),
    n_frames=st.integers(1, 5),
    num=st.integers(1, 60),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_y4m_codec_roundtrip_property(w, h, n_frames, num, seed):
    """encode->decode identity for arbitrary C444 clips: every frame, every
    plane, and the framerate tag survive."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import decode_y4m_bytes, encode_y4m

    rng = np.random.RandomState(seed)
    frames = [
        tuple(rng.randint(0, 256, size=(h, w), dtype=np.uint8) for _ in range(3))
        for _ in range(n_frames)
    ]
    got, fps = decode_y4m_bytes(encode_y4m(frames, fps=(num, 1), colorspace="C444"))
    assert fps == (num, 1) and len(got) == n_frames
    for f, g in zip(frames, got):
        assert all(np.array_equal(a, b) for a, b in zip(f, g))


@given(
    n=st.integers(1, 200),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_wav_codec_roundtrip_property(n, ch, rate, seed):
    """encode->decode identity for arbitrary PCM clips (mono/stereo, odd
    lengths exercising the word-align path)."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import decode_wav_bytes, encode_wav

    a = np.random.RandomState(seed).randint(-32768, 32768, size=(n, ch), dtype=np.int16)
    got, r = decode_wav_bytes(encode_wav(a, sample_rate=rate))
    assert r == rate and np.array_equal(got, a)


@settings(max_examples=10, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet="abcXYZ019#", min_size=2, max_size=20), min_size=1, max_size=12, unique=True
    ),
    seed=st.integers(0, 2**31 - 1),
)
def test_er_deletion_variants_recall_property(sc, names, seed):
    """FastSS k=1 recall guarantee: for ANY string set and ANY single-char
    deletion, the corrupted string is a del_variant of its source — the
    blocked candidate join can never miss a 1-deletion corruption."""
    import random

    from pyspark.sql import functions as F

    from taico_data_integration_spark.queries.extended import er_deletion_variants

    rng = random.Random(seed)
    corrupted = []
    for n in names:
        p = rng.randrange(len(n))
        corrupted.append((n, n[:p] + n[p + 1 :]))

    df = sc.createDataFrame([(n,) for n in names], ["canonical"])
    variants = {
        (r.canonical, r.del_variant)
        for r in er_deletion_variants(df, "canonical").collect()
    }
    for canon, corrupt in corrupted:
        assert (canon, corrupt) in variants


@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    quality=st.sampled_from([50, 75, 90]),
    sub=st.sampled_from(["420", "422", "444"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_roundtrip_property(h, w, quality, sub, seed):
    """Shape/dtype identity and a PSNR floor for ANY image size (incl. 1x1
    and sub-block sizes exercising MCU pad + crop), any subsampling mode.
    Smooth images so the PSNR bound is meaningful at every quality."""
    import numpy as np

    from taico_data_integration_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    base = rng.randint(0, 256, 3)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(
        base[None, None, :] + (xx[..., None] * 2 + yy[..., None] * 3) % 40 - 20,
        0, 255,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=quality, subsample=sub))
    assert out.shape == img.shape and out.dtype == np.uint8
    diff = out.astype(float) - img.astype(float)
    mse = float(np.mean(diff**2))
    psnr = 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)
    assert psnr >= 25.0


@settings(max_examples=12, deadline=None)
@given(
    n=st.integers(1, 3000),
    freq=st.integers(50, 2000),
    amp=st.integers(100, 20000),
    seed=st.integers(0, 2**31 - 1),
)
def test_adpcm_roundtrip_property(n, freq, amp, seed):
    """ADPCM decode(encode(x)) preserves length exactly for any clip length
    (partial blocks) and tracks the waveform within the codec's step-size
    envelope (bounded max error relative to amplitude for smooth tones)."""
    import numpy as np

    from taico_data_integration_spark.llm.multimodal import (
        decode_wav_bytes,
        encode_adpcm_wav,
    )

    rate = 8000
    t = np.arange(n)
    phase = (seed % 628) / 100.0
    sig = (amp * np.sin(2 * np.pi * freq * t / rate + phase)).astype(np.int16)
    dec, r = decode_wav_bytes(encode_adpcm_wav(sig, rate))
    assert r == rate and dec.shape == (n, 1)
    if n >= 32:  # allow the predictor a few samples of attack
        err = np.abs(sig[16:].astype(int) - dec[16:, 0].astype(int))
        assert float(np.mean(err)) <= max(200.0, 0.15 * amp)


@given(
    a=st.text(min_size=1, max_size=40),
    b=st.text(min_size=1, max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_fs_safe_name_injective_property(a, b):
    """ADVICE r6: the filesystem image of constraint names / txn app_ids
    must be INJECTIVE (distinct names never share a sidecar file) and
    must be the identity on already-safe names (back-compat with stores
    written before the digest suffix existed) — EXCEPT (ADVICE r7) safe
    names that themselves look like a digest-suffixed image, which must
    also be suffixed or they collide with another name's image."""
    import re

    from taico_data_integration_spark.ops.incremental import TableStore

    fa, fb = TableStore._fs_safe_name(a), TableStore._fs_safe_name(b)
    if a != b:
        assert fa != fb, (a, b, fa)
    assert re.fullmatch(r"[A-Za-z0-9_.-]+", fa), (a, fa)
    if re.fullmatch(r"[A-Za-z0-9_.-]+", a) and not re.search(r"-[0-9a-f]{8}$", a):
        assert fa == a


def test_fs_safe_name_second_preimage_closed():
    """ADVICE r7's concrete collision: a raw name EQUAL to another name's
    sanitized-digest8 image used to map to itself, sharing that image."""
    import hashlib

    from taico_data_integration_spark.ops.incremental import TableStore

    image_of_unsafe = TableStore._fs_safe_name("a:b")
    assert image_of_unsafe == f"a_b-{hashlib.sha256(b'a:b').hexdigest()[:8]}"
    # the adversarial twin: a perfectly safe raw name spelled exactly like
    # that image must NOT map to itself
    assert TableStore._fs_safe_name(image_of_unsafe) != image_of_unsafe
