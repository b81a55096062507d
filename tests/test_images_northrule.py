"""Image codec, phash parity, and the north-rule pipeline: feature parity
vs a pandas oracle, zero-leakage proof (poison test), parallelism
invariance, and PSNR gate for the lossy path."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dagli_spark.fixtures import materialize
from dagli_spark.images.codec import (
    decode_image,
    encode_image,
    encode_png,
    decode_png,
    encode_qjpg,
    decode_qjpg,
    psnr,
)
from dagli_spark.images.phash import hamming64_np, phash64, phash_to_vector
from dagli_spark.northrule import (
    FEATURE_NAMES,
    build_features,
    event_features,
    leakage_audit,
)


@pytest.fixture(scope="module")
def paths(spark):
    return materialize(spark, "smoke")


# ------------------------------------------------------------- codec unit

def test_png_roundtrip_exact():
    rng = np.random.RandomState(7)
    for shape in [(32, 32, 3), (64, 128, 3)]:
        a = rng.randint(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a)), a)


def _paeth_ref(left, up, upl):
    p = left + up - upl
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upl)
    return left if (pa <= pb and pa <= pc) else (up if pb <= pc else upl)


def _filter_rows_ref(arr, filters) -> bytes:
    """Per-byte reference PNG filter pass: the scanlines of an (h, w, 3)
    uint8 image, scanline y written under filter ``filters[y]`` (0-4,
    None/Sub/Up/Average/Paeth; any other byte writes the row unfiltered
    behind that filter byte)."""
    h, w, _ = arr.shape
    flat = arr.reshape(h, w * 3).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate(filters):
        raw.append(int(f))
        for x in range(w * 3):
            cur = int(flat[y, x])
            left = int(flat[y, x - 3]) if x >= 3 else 0
            up = int(flat[y - 1, x]) if y else 0
            upl = int(flat[y - 1, x - 3]) if (y and x >= 3) else 0
            pred = {1: left, 2: up, 3: (left + up) >> 1,
                    4: _paeth_ref(left, up, upl)}.get(int(f), 0)
            raw.append((cur - pred) & 0xFF)
    return bytes(raw)


def _png_from_raw(raw: bytes, h: int, w: int) -> bytes:
    """An 8-bit RGB PNG whose IDAT inflates to ``raw`` verbatim."""
    import struct
    import zlib

    from dagli_spark.images.codec import _PNG_SIG, _png_chunk

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def encode_png_ref(arr, filters) -> bytes:
    """Reference PNG encoder for any (h, w) and any per-row filter
    sequence (a single int applies to every row)."""
    h, w, _ = arr.shape
    filters = np.broadcast_to(np.asarray(filters), (h,))
    return _png_from_raw(_filter_rows_ref(arr, filters), h, w)


def _filter_cases():
    """(id, image, per-row filters) covering every filter type, mixes,
    the 1-pixel-wide and 1-row edges, and wrap-around."""
    rng = np.random.RandomState(13)
    cases = []
    for f in range(5):
        img = rng.randint(0, 256, (12, 10, 3), dtype=np.uint8)
        cases.append((f"every-row-{f}", img, f))
        cases.append((f"w1-{f}", rng.randint(0, 256, (9, 1, 3),
                                            dtype=np.uint8), f))
        cases.append((f"h1-{f}", rng.randint(0, 256, (1, 7, 3),
                                            dtype=np.uint8), f))
        cases.append((f"all255-{f}", np.full((6, 5, 3), 255, np.uint8), f))
    for seed in range(4):
        mix = np.random.RandomState(100 + seed)
        h, w = [(64, 32), (32, 64), (9, 1), (1, 7)][seed]
        img = mix.randint(0, 256, (h, w, 3), dtype=np.uint8)
        cases.append((f"mix{seed}-{h}x{w}", img, mix.randint(0, 5, h)))
    cases.append(("all255-mix", np.full((8, 8, 3), 255, np.uint8),
                  [0, 1, 2, 3, 4, 4, 3, 1]))
    big = rng.randint(0, 256, (128, 128, 3), dtype=np.uint8)
    cases.append(("mix-128x128", big, rng.randint(0, 5, 128)))
    return cases


_FILTER_CASES = _filter_cases()


def test_png_nonzero_filters_still_decode():
    """Foreign PNGs using Sub/Up/Average/Paeth per scanline decode
    exactly (one row of each filter type)."""
    rng = np.random.RandomState(13)
    a = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png_ref(a, [0, 1, 2, 3, 4])), a)


@pytest.mark.parametrize("case", _FILTER_CASES, ids=lambda c: c[0])
def test_png_filters_bit_exact_every_entry_point(case):
    """Every filter type, alone and mixed per row, round-trips bit-exactly
    through decode_png and decode_into_planes."""
    from dagli_spark.images.codec import decode_into_planes

    _, img, filters = case
    png = encode_png_ref(img, filters)
    got = decode_png(png)
    assert got.dtype == np.uint8 and np.array_equal(got, img)
    planes = np.empty((3,) + img.shape[:2], dtype=np.uint8)
    decode_into_planes(png, planes)
    assert np.array_equal(planes, img.transpose(2, 0, 1))


def test_png_unfilter_filter0_is_zero_copy():
    """All-filter-0 scanlines (what encode_png writes) come back as a view
    of the inflated buffer; one filtered row forces a single copy."""
    from dagli_spark.images.codec import _png_raw, _png_unfilter

    img = np.random.RandomState(3).randint(0, 256, (6, 5, 3), dtype=np.uint8)
    w, h, raw = _png_raw(encode_png(img))
    assert np.shares_memory(_png_unfilter(raw, h, w), raw)
    w, h, raw = _png_raw(encode_png_ref(img, [0, 0, 2, 0, 0, 0]))
    body = _png_unfilter(raw, h, w)
    assert not np.shares_memory(body, raw)
    assert np.array_equal(body, img.reshape(h, w * 3))


def test_batch_features_bit_match_single_filtered_pngs():
    """_features_batch over filtered PNGs (mixed shapes, one batch) is
    bit-identical to _features_batch over the filter-0 encoding of the
    same pixels, and to the single-image oracle _decode_one."""
    from dagli_spark.features.image_features import _decode_one, _features_batch

    imgs = [img for _, img, _ in _FILTER_CASES]
    blobs = [encode_png_ref(img, f) for _, img, f in _FILTER_CASES]
    got = _features_batch(pd.Series(blobs))
    plain = _features_batch(pd.Series([encode_png(img) for img in imgs]))
    for img, blob, row, row0 in zip(imgs, blobs, got, plain):
        # repr: exact for floats, and NaN (the edge energy of a 1-pixel
        # wide or high image) equals NaN
        assert row[0] is not None and repr(row) == repr(row0)
        single = _decode_one(blob)
        assert repr(single) == repr(_decode_one(encode_png(img)))
        assert repr(row[:6]) == repr(single[:6])
        # phash of a degenerate image (1 pixel wide or high, or constant)
        # thresholds DCT terms that are exact ties, which the batched and
        # the single-image matmul round differently: compare it elsewhere
        if min(img.shape[:2]) > 1 and img.min() != img.max():
            assert row[6] == single[6]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 6), st.integers(1, 6), st.data())
def test_png_filters_roundtrip_property(h, w, data):
    """Any image and any per-row filter sequence decodes bit-exactly."""
    img = np.array(data.draw(st.lists(st.integers(0, 255), min_size=h * w * 3,
                                      max_size=h * w * 3)),
                   dtype=np.uint8).reshape(h, w, 3)
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    assert np.array_equal(decode_png(encode_png_ref(img, filters)), img)


def test_hostile_pngs_raise_and_degrade_to_null_row():
    """A scanline with filter byte 5, and an IDAT that inflates to the
    wrong length: decode_png raises ValueError, and _features_batch
    yields an all-null row with its neighbours intact."""
    from dagli_spark.features.image_features import _features_batch

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (6, 4, 3), dtype=np.uint8)
    bad_filter = encode_png_ref(img, [0, 2, 5, 1, 4, 3])
    raw = _filter_rows_ref(img, [1] * 6)
    short = _png_from_raw(raw[:-1], 6, 4)
    long_ = _png_from_raw(raw + b"\x00", 6, 4)
    ok = encode_png_ref(img, [4] * 6)
    for bad in (bad_filter, short, long_):
        with pytest.raises(ValueError):
            decode_png(bad)
        got = _features_batch(pd.Series([ok, bad, ok]))
        assert got[1] == (None,) * 7
        assert got[0] == got[2] and got[0][0] is not None


def test_batch_features_bit_match_single():
    """_features_batch (channel-first batched kernels) is bit-identical to
    the single-image oracle _decode_one across mixed shapes, formats, nulls
    and corrupt payloads — the exact-integer-reduction contract."""
    from dagli_spark.features.image_features import _decode_one, _features_batch

    rng = np.random.RandomState(5)
    blobs = []
    for shape in [(32, 32, 3), (64, 32, 3), (128, 128, 3), (32, 32, 3)]:
        arr = rng.randint(0, 256, shape, dtype=np.uint8)
        blobs.append(encode_png(arr))
        blobs.append(encode_qjpg(arr, 90))
    blobs.append(None)
    blobs.append(b"garbage-not-an-image")
    got = _features_batch(pd.Series(blobs))
    for blob, row in zip(blobs, got):
        single = _decode_one(blob) if blob is not None else (None,) * 7
        assert row == single, (row, single)


def test_decompression_bomb_degrades_to_null_row():
    """A payload whose header parses but declares absurd dims (truncated
    PNG claiming 60000x60000 -> ~10.8 GB stack slice) must yield a null
    feature row, never an allocation failure that kills the stage — the
    stack is preallocated from header dims alone (round-3 advice)."""
    import struct
    import zlib

    from dagli_spark.features.image_features import _features_batch

    ihdr = struct.pack(">II", 60000, 60000) + bytes([8, 2, 0, 0, 0])
    bomb = (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
            + b"\x00" * 64)  # truncated body
    ok = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    got = _features_batch(pd.Series([ok, bomb, ok]))
    assert got[1] == (None,) * 7
    assert got[0] == got[2] and got[0][0] is not None  # neighbors intact


def test_zero_dim_header_degrades_to_null_row():
    """A corrupt header declaring width=0 (or height=0) sails past the
    size gate (0 bytes is never 'too big') but must still yield a null
    row — it would otherwise hit zero divides in the chunk sizing and the
    per-pixel means and kill the stage (round-4 review)."""
    import struct
    import zlib

    from dagli_spark.features.image_features import _features_batch

    ok = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    for w, h in [(0, 16), (16, 0), (0, 0)]:
        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        zero = (b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13) + b"IHDR" + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
                + b"\x00" * 64)
        got = _features_batch(pd.Series([ok, zero]))
        assert got[1] == (None,) * 7, (w, h, got[1])
        assert got[0][0] is not None


def test_qjpg_psnr_gate():
    """input_hint: PSNR >= 40 dB for the lossy path at q90."""
    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, (64, 64, 3), dtype=np.uint8)
    d = decode_qjpg(encode_qjpg(a, 90))
    assert psnr(a, d) >= 40.0


def test_phash_properties():
    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, (64, 64, 3), dtype=np.uint8)
    h1 = phash64(a)
    # deterministic
    assert phash64(a.copy()) == h1
    # robust to mild lossy re-encode (the perceptual property)
    lossy = decode_qjpg(encode_qjpg(a, 90))
    assert int(hamming64_np(h1, phash64(lossy))[()]) <= 8
    v = phash_to_vector(h1)
    assert v.shape == (64,) and set(np.unique(v)) <= {-1.0, 1.0}


def test_stored_phash_matches_bytes(spark, paths):
    """FIXTURES §1: phash is the actual hash of the decoded bytes."""
    img = spark.read.parquet(paths["images"]).limit(64).toPandas()
    for _, r in img.iterrows():
        assert phash64(decode_image(r["bytes"])) == r["phash"], r["image_id"]


# ------------------------------------------------------------- pipeline

def _run(spark, paths, **opts):
    return build_features(
        spark.read.parquet(paths["queries"]),
        spark.read.parquet(paths["image_events"]),
        spark.read.parquet(paths["images"]),
        **opts,
    )


def _key(r):
    return (r["entity_id"], str(r["asof_time"]), int(r["qseq"]))


def test_feature_parity_vs_pandas_oracle(spark, paths):
    """numpy-allclose parity of every feature vector against an independent
    pandas implementation of the same semantics (the translation of the
    reference's SimpleDAGExecutor single-threaded oracle,
    core/.../dag/SimpleDAGExecutor.java:33-41)."""
    out = _run(spark, paths).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    ).toPandas()

    ev = spark.read.parquet(paths["image_events"]).toPandas()
    img = spark.read.parquet(paths["images"]).toPandas().set_index("image_id")
    qs = spark.read.parquet(paths["queries"]).toPandas()

    ev = ev.merge(img[["phash"]], left_on="image_id", right_index=True)
    ev = ev.sort_values(["entity_id", "event_time", "eseq"]).reset_index(drop=True)

    # pandas oracle features per event
    def per_entity(g):
        g = g.copy()
        g["label_lag1"] = g["label"].shift(1)
        ph = g["phash"].to_numpy()
        ham = np.full(len(g), -1.0)
        if len(g) > 1:
            ham[1:] = hamming64_np(ph[1:], ph[:-1]).astype(float)
        g["hamming_prev"] = ham
        g["label_avg5"] = g["label"].rolling(5, min_periods=1).mean()
        es = (g["event_time"].astype("int64") // 10**9 // 1)  # ns -> s
        g["epoch_s"] = (g["event_time"].astype("int64") // 10**6 // 10**3) // 1000
        g["epoch_s"] = g["event_time"].astype("int64") // 10**9
        cnt = np.array([
            ((g["epoch_s"] >= t - 3600) & (g["epoch_s"] <= t)).sum()
            for t in g["epoch_s"]
        ])
        g["cnt_1h"] = cnt.astype(float)
        gap = g["event_time"].diff()
        is_new = (gap > pd.Timedelta(minutes=30)) | gap.isna()
        g["session_id"] = is_new.cumsum().astype(float) - 1
        g["secs_since_prev"] = (g["epoch_s"].diff()).fillna(-1.0)
        return g

    ev = ev.groupby("entity_id", group_keys=False)[ev.columns].apply(per_entity)

    checked = 0
    for _, q in qs.iterrows():
        hist = ev[(ev["entity_id"] == q["entity_id"])
                  & (ev["event_time"] <= q["asof_time"])]
        row = out[(out["entity_id"] == q["entity_id"])
                  & (out["asof_time"] == q["asof_time"])
                  & (out["qseq"] == q["qseq"])]
        assert len(row) == 1, f"query row missing/dup: {q}"
        vec = np.array(row.iloc[0]["feature_vector"], dtype=float)
        if hist.empty:
            assert np.isnan(vec[:7]).all(), f"expected NaN features: {q} {vec}"
            continue
        m = hist.sort_values(["event_time", "eseq"]).iloc[-1]
        expected = [
            m["label"],
            m["label_lag1"] if pd.notna(m["label_lag1"]) else np.nan,
            m["label_avg5"], m["cnt_1h"], m["session_id"],
            float(m["secs_since_prev"]), m["hamming_prev"],
        ]
        got = vec[:7]
        for name, e, g in zip(FEATURE_NAMES[:7], expected, got):
            if pd.isna(e):
                assert np.isnan(g), (q["entity_id"], name, e, g)
            else:
                assert np.isclose(e, g, rtol=1e-9, atol=1e-9), \
                    (q["entity_id"], str(q["asof_time"]), name, e, g)
        # pixel features match a direct decode of the matched image
        arr = decode_image(img.loc[m["image_id"], "bytes"])
        f = arr.astype(np.float64)
        assert np.isclose(vec[7], f[..., 0].mean())
        assert np.isclose(vec[10], f.std())
        checked += 1
    assert checked > 50


def test_zero_leakage_poison(spark, paths):
    """FIXTURES §5 leak_probe: poison every event strictly after each
    query's asof_time — feature vectors must be identical."""
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])

    base = build_features(qs, ev, img).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    )
    # poison: any event AFTER the entity's max asof_time gets label + time-shifted
    max_asof = qs.groupBy("entity_id").agg(F.max("asof_time").alias("mx"))
    poisoned = (
        ev.join(max_asof, "entity_id", "left")
        .withColumn(
            "label",
            F.when(F.col("event_time") > F.col("mx"), F.lit(9999.0))
            .otherwise(F.col("label")),
        )
        .drop("mx")
    )
    pois = build_features(qs, poisoned, img).select(
        "entity_id", "asof_time", "qseq", "feature_vector"
    )
    a = sorted(map(str, base.collect()))
    b = sorted(map(str, pois.collect()))
    assert a == b

    audit = leakage_audit(build_features(qs, ev, img))
    assert audit["violations"] == 0 and audit["rows"] > 0


def test_parallelism_invariance(spark, paths):
    """DAGTest executor grid analogue: results identical at different
    partition counts (core/.../dag/DAGTest.java:45-97)."""
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])
    a = build_features(qs.repartition(3), ev.repartition(5), img,
                       with_pixels=False)
    b = build_features(qs.repartition(64), ev.repartition(37), img,
                       with_pixels=False)
    ra = sorted(str(r) for r in a.select("entity_id", "asof_time", "qseq",
                                         "feature_vector").collect())
    rb = sorted(str(r) for r in b.select("entity_id", "asof_time", "qseq",
                                         "feature_vector").collect())
    assert ra == rb


def test_bucketed_path_matches(spark, paths):
    qs = spark.read.parquet(paths["queries"])
    ev = spark.read.parquet(paths["image_events"])
    img = spark.read.parquet(paths["images"])
    a = build_features(qs, ev, img, with_pixels=False)
    b = build_features(qs, ev, img, with_pixels=False,
                       time_buckets=8, bucket_width=F.lit(12 * 3600 * 1_000_000))
    cols = ["entity_id", "asof_time", "qseq", "feature_vector"]
    ra = sorted(str(r) for r in a.select(*cols).collect())
    rb = sorted(str(r) for r in b.select(*cols).collect())
    assert ra == rb


def test_hot_entity_bucketed_windows_match_plain(spark, paths):
    """The time-bucketed two-phase window path for hot entities (skew
    handling at the WINDOW stage, not just joins) must reproduce the plain
    per-entity windows exactly — forced at smoke scale by dropping the hot
    threshold so the fixture's hot entities route through bucketing."""
    from dagli_spark.northrule import event_features

    ev = spark.read.parquet(paths["image_events"])
    im = spark.read.parquet(paths["images"])
    plain = event_features(ev, im, with_pixels=False, hot_min_rows=None)
    forced = event_features(ev, im, with_pixels=False,
                            hot_min_rows=100, hot_target_rows=20)
    cols = sorted(plain.columns)
    assert sorted(forced.columns) == cols
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in forced.select(*cols).collect())
    assert a == b
    # and end-to-end through the as-of join + vector assembly
    qs = spark.read.parquet(paths["queries"])
    base = build_features(qs, ev, im, with_pixels=False, hot_min_rows=None)
    skewed = build_features(qs, ev, im, with_pixels=False,
                            hot_min_rows=100, hot_target_rows=20)
    keys = ["entity_id", "asof_time", "qseq", "feature_vector"]
    ra = sorted(str(r) for r in base.select(*keys).collect())
    rb = sorted(str(r) for r in skewed.select(*keys).collect())
    assert ra == rb


def test_event_features_two_sorts_one_exchange(spark, paths):
    """Stage-shape pin (round-3 scaling work): the windowed-feature pass
    sorts the event table exactly TWICE — once for every (event_time,
    eseq)-ordered window (lag/rolling/session/secs share it) and once for
    the epoch_s range frame (cnt_1h) — behind ONE entity exchange.
    Interleaving the range window mid-chain regresses this to 3 sorts."""
    import re

    ev = spark.read.parquet(paths["image_events"])
    im = spark.read.parquet(paths["images"])
    df = event_features(ev, im, with_pixels=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sorts = [l for l in plan.splitlines() if re.match(r"[\s:+-]*\+- Sort ", l)]
    assert len(sorts) == 2, sorts
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_bucketed_windows_thin_buckets_transitive_carry(spark):
    """Regression: the bucketed path's tail carry must be TRANSITIVE.
    When the previous occupied bucket holds fewer than 4 rows, a
    rows(-4,0) frame in the destination reaches through it into earlier
    buckets — the original single-hop carry (last 4 rows of the previous
    non-empty bucket only) under-filled such frames and label_avg5
    silently depended on the hot threshold. Cases: the review's 5-1-3
    repro, a 4-deep chain of 1-row buckets, an empty bucket gap, and
    boundary-adjacent rows exercising the tail/horizon overlap dedupe."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    cases = {
        "5-1-3": [100, 200, 300, 400, 500, 7300, 14500, 14600, 14700],
        "2-1-1-1-2": [100, 200, 7300, 14500, 21700, 28900, 29000],
        "5-gap-3": [100, 200, 300, 400, 500, 14500, 14600, 14700],
        "horizon-overlap": [7000, 7100, 7190, 7300, 14350, 14390, 14500],
    }
    base = dt.datetime(2026, 1, 1)
    for name, ts in cases.items():
        rows = [("E", base + dt.timedelta(seconds=s), i,
                 f"img{i % 3}", float(i + 1)) for i, s in enumerate(ts)]
        ev = spark.createDataFrame(rows, schema)
        plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
        buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
        cols = sorted(plain.columns)
        a = sorted(str(r) for r in plain.select(*cols).collect())
        b = sorted(str(r) for r in buck.select(*cols).collect())
        assert a == b, f"{name}: bucketed diverges from plain"


def test_bucketed_windows_duplicate_source_rows_survive(spark):
    """Two source rows identical in EVERY column are two real events. The
    carry union dedupes on the ROUTE key (source row position x
    destination), so a row selected by both the tail and horizon routes
    appears exactly once per destination while genuine duplicates keep
    their multiplicity — a dropDuplicates() over data columns collapsed
    them and undercounted cnt_1h/label_avg5 in the bucketed path
    (round-3 advice)."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    base = dt.datetime(2026, 1, 1)
    # bucket 0: 100, 200, then TWO fully identical rows at 7190 s (same
    # eseq/image/label) sitting in both bucket 0's 4-row tail and bucket
    # 1's 1h horizon; bucket 1: 7300, 7400 read them through both frames
    rows = [
        ("E", base + dt.timedelta(seconds=100), 0, "img0", 1.0),
        ("E", base + dt.timedelta(seconds=200), 1, "img1", 2.0),
        ("E", base + dt.timedelta(seconds=7190), 5, "img2", 3.0),
        ("E", base + dt.timedelta(seconds=7190), 5, "img2", 3.0),
        ("E", base + dt.timedelta(seconds=7300), 6, "img0", 4.0),
        ("E", base + dt.timedelta(seconds=7400), 7, "img1", 5.0),
    ]
    ev = spark.createDataFrame(rows, schema)
    plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
    buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
    cols = sorted(plain.columns)
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in buck.select(*cols).collect())
    assert a == b, "bucketed path diverges from plain on duplicate rows"
    # and the duplicate really is load-bearing: cnt_1h at t=7300 must see
    # BOTH 7190 rows (undercount is exactly the old dropDuplicates bug)
    c73 = [r for r in buck.collect()
           if r["eseq"] == 6][0]["cnt_1h"]
    assert c73 == 3, f"cnt_1h at 7300 saw {c73} rows, want 3"


def test_bucketed_windows_tolerate_non_orderable_payload(spark):
    """Round-4 advice: the carry path's reproducibility tiebreaks must
    skip non-orderable payload columns — a map-typed column in events
    made the per-bucket window sort throw AnalysisException (and a fat
    binary payload was dragged into the sort key). Such columns only
    widen the fully-identical-rows-may-swap class; results must still
    match the plain path."""
    import datetime as dt

    from pyspark.sql import types as T

    from dagli_spark.northrule import (
        _bucketed_event_windows,
        _plain_event_windows,
    )

    width_us = 7200 * 1_000_000
    schema = T.StructType([
        T.StructField("entity_id", T.StringType()),
        T.StructField("event_time", T.TimestampNTZType()),
        T.StructField("eseq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.DoubleType()),
        T.StructField("meta", T.MapType(T.StringType(), T.LongType())),
        T.StructField("blob", T.BinaryType()),
    ])
    dim = spark.createDataFrame(
        [(f"img{i}", i * 1234567) for i in range(3)],
        ["image_id", "phash"])
    base = dt.datetime(2026, 1, 1)
    rows = [("E", base + dt.timedelta(seconds=s), i, f"img{i % 3}",
             float(i + 1), {"k": i}, bytes([i]))
            for i, s in enumerate(
                [100, 200, 300, 400, 500, 7300, 14500, 14600, 14700])]
    ev = spark.createDataFrame(rows, schema)
    plain = _plain_event_windows(ev.join(dim, "image_id", "left"))
    buck = _bucketed_event_windows(ev, dim, ["E"], width_us)
    cols = sorted(c for c in plain.columns if c != "meta") + ["meta"]
    a = sorted(str(r) for r in plain.select(*cols).collect())
    b = sorted(str(r) for r in buck.select(*cols).collect())
    assert a == b, "bucketed path diverges with map/binary payloads"


def test_detect_hot_entities_tiebreak(spark):
    """Equal counts at the `top` boundary resolve by entity_id — the hot
    set (and therefore the plan) is identical run to run."""
    import datetime as dt

    from dagli_spark.northrule import detect_hot_entities

    base = dt.datetime(2026, 1, 1)
    rows = [(e, base + dt.timedelta(seconds=i), i)
            for e in ("b", "a", "d", "c") for i in range(3)]
    ev = spark.createDataFrame(rows, "entity_id string, event_time timestamp_ntz, eseq long")
    got = [r["entity_id"] for r in detect_hot_entities(ev, 1, top=2)]
    assert got == ["a", "b"]


def test_decode_into_planes_matches_decode_image():
    """The fused plane decoder must be bit-identical to
    decode_image().transpose(2,0,1) for PNG (filter-0 and general-filter
    files), QJPG, and must reject shape mismatches and unknown containers
    — it is the only decode path the batch featurizer uses."""
    from dagli_spark.images.codec import (
        decode_image,
        decode_into_planes,
        image_shape,
    )

    rng = np.random.RandomState(11)
    payloads = []
    a = rng.randint(0, 256, (48, 64, 3), dtype=np.uint8)
    payloads.append(encode_png(a))
    payloads.append(encode_qjpg(a, 90))
    # a general-filter PNG (Sub on every row)
    payloads.append(encode_png_ref(
        rng.randint(0, 256, (8, 8, 3), dtype=np.uint8), 1))
    for data in payloads:
        hh, ww = image_shape(data)
        ref = decode_image(data)
        assert ref.shape == (hh, ww, 3)
        out = np.empty((3, hh, ww), dtype=np.uint8)
        decode_into_planes(data, out)
        assert np.array_equal(out, ref.transpose(2, 0, 1))
    wrong = np.empty((3, 5, 5), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_into_planes(payloads[0], wrong)
    with pytest.raises(ValueError):
        image_shape(b"not an image at all")
