"""Round-11 operator tests: ADVICE fixes (ISO cursor parsing in the mock
API, truncated-interlaced-GIF loudness, graph_rounds metadata) plus the
round's new operators as they land."""
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


# ------------------------------------------------- mock API cursor parsing
def test_mock_api_cursor_format_normalization():
    """A trailing-'Z' or fractional-second cursor denoting the same instant
    must filter identically to the '+00:00' form the rows carry (ADVICE
    r10: raw string comparison silently mis-filtered those)."""
    from mock_wms_api import Dataset

    ds = Dataset(40)
    canonical = "2024-01-01T00:10:00+00:00"
    base, n = ds.page("ib_receipts", 1000, 0, canonical)
    for variant in (
        "2024-01-01T00:10:00Z",
        "2024-01-01T00:10:00.000Z",
        "2024-01-01T00:10:00.000000+00:00",
        "2024-01-01T00:10:00",  # naive == UTC
    ):
        rows, count = ds.page("ib_receipts", 1000, 0, variant)
        assert count == n, variant
        assert [r["id"] for r in rows] == [r["id"] for r in base], variant
    # strict-greater contract unchanged: the row AT the cutoff is excluded
    assert all(r["updated_at"] > canonical for r in base)


def test_mock_api_bad_cursor_raises_value_error():
    from mock_wms_api import Dataset

    ds = Dataset(5)
    with pytest.raises(ValueError):
        ds.page("ib_receipts", 10, 0, "not-a-timestamp")


def test_mock_api_bad_cursor_http_400(tmp_path):
    import json
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from mock_wms_api import Dataset, make_handler

    ds = Dataset(10)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(ds))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                base + "/ib/receipts?updated_after=garbage"
            )
        assert ei.value.code == 400
        assert "bad updated_after" in json.load(ei.value)["error"]
        # and a 'Z' cursor succeeds over HTTP too
        ok = json.load(
            urllib.request.urlopen(
                base
                + "/ib/receipts?limit=5&updated_after="
                + "2024-01-01T00:05:00Z"
            )
        )
        assert ok["meta"]["count"] == 4  # rows at minutes 6..9 of 0..9
    finally:
        srv.shutdown()


# -------------------------------------------- truncated interlaced GIF
def test_truncated_interlaced_gif_raises_at_decode():
    """ADVICE r10: a short LZW stream on an INTERLACED image must raise
    loudly at the deinterlace step, never pass through row-scrambled."""
    from wms_data_pipeline_spark.operators import multimodal as mm

    import struct

    pal = bytes(768)
    idx = (bytes(range(256)) * 10)[: 13 * 4]
    # a VALID 13x4 interlaced stream whose descriptor claims height 8:
    # the LZW layer decodes cleanly (proper EOI) but yields only half the
    # claimed raster — exactly the case that used to skip the deinterlace
    # silently instead of raising
    blob = bytearray(mm.encode_gif(13, 4, idx, pal, interlace=True))
    idesc = blob.index(b",", 6)
    struct.pack_into("<H", blob, idesc + 7, 8)  # height 4 -> 8
    with pytest.raises(ValueError, match="truncated GIF raster"):
        mm.decode_image_real(bytes(blob))


# ------------------------------------------- weighted classifier_score
def test_classifier_weighted_matches_fold_bitwise(spark):
    """classifier_score(weights=full hex64-derived vocab) must reproduce
    the codegen fold bit-for-bit on every input class (verdict r10 task 1:
    the deployed Arrow-closure shape, SCALE_NOTES r10 classifier A/B;
    re-measure with tools/ab.py)."""
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import text as txt

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the"),
            (2, ""),
            (3, None),
            (4, "   "),
            (5, "unicode nbsp stays one token"),  #   is NOT \s in Java
            (6, "x " * 200),
        ],
        "doc_id bigint, text string",
    )
    vocab = (
        docs.select(F.explode(txt.tokens_of("text")).alias("tok"))
        .distinct()
        .select(
            "tok", (txt.hex64(F.col("tok")) % 1001 - 500).cast("long").alias("w")
        )
    )
    fold = txt.classifier_score(docs).orderBy("doc_id").collect()
    for weights in (vocab, {r["tok"]: r["w"] for r in vocab.collect()}):
        wtd = (
            txt.classifier_score(docs, weights=weights)
            .orderBy("doc_id")
            .collect()
        )
        assert wtd == fold


def test_classifier_weighted_unseen_and_guards(spark):
    from wms_data_pipeline_spark.operators import text as txt

    docs = spark.createDataFrame(
        [(1, "the quick unseen")], "doc_id bigint, text string"
    )
    row = (
        txt.classifier_score(docs, weights={"the": 100, "quick": -40})
        .collect()[0]
    )
    assert row.wsum == 60 and row.n_tokens == 3  # unseen token weighs 0
    # float weights switch wsum to DOUBLE (exactness contract documented)
    t = (
        txt.classifier_score(docs, weights={"the": 0.25})
        .schema["wsum"].dataType.simpleString()
    )
    assert t == "double"
    with pytest.raises(TypeError, match="dict or a DataFrame"):
        txt.classifier_score(docs, weights=[("the", 1)])
    with pytest.raises(ValueError, match="tok/w columns"):
        txt.classifier_score(docs, weights=docs)
    big = {f"t{i}": 1 for i in range(5)}
    orig = txt.MAX_CLASSIFIER_VOCAB
    txt.MAX_CLASSIFIER_VOCAB = 3
    try:
        with pytest.raises(ValueError, match="MAX_CLASSIFIER_VOCAB"):
            txt.classifier_score(docs, weights=big)
    finally:
        txt.MAX_CLASSIFIER_VOCAB = orig


# ------------------------------------------------- incremental drift trio
@pytest.fixture()
def drift_events(spark):
    rows = []
    for g in ("a", "b"):
        base = 0 if g == "a" else 100
        for i in range(60):
            # reference rows span the full [base, base+59] range
            rows.append((g, base + i, False))
        for i in range(30):
            # current batch sits inside the reference range
            rows.append((g, base + 10 + i, True))
    return spark.createDataFrame(rows, "g string, v bigint, cur boolean")


def _store(tmp_path, name):
    return str(tmp_path / name)


def test_psi_probe_bitwise_equals_batch(spark, tmp_path, drift_events):
    """When the reference attains each group's combined [min, max], the
    persisted-histogram probe must reproduce the batch recompute
    bit-for-bit (verdict r10 task 2)."""
    from wms_data_pipeline_spark.operators import quality as q

    path = _store(tmp_path, "psi")
    q.psi_reference_write(
        drift_events.filter("NOT cur"), "g", "v", path
    )
    probe = q.psi_drift_probe(
        drift_events.filter("cur"), "g", "v", path
    ).orderBy("g").collect()
    batch = q.psi_drift(drift_events, "g", "v", "cur").orderBy("g").collect()
    assert probe == batch


def test_psi_probe_frozen_geometry_clamps(spark, tmp_path, drift_events):
    from wms_data_pipeline_spark.operators import quality as q
    from pyspark.sql import functions as F

    path = _store(tmp_path, "psi2")
    q.psi_reference_write(drift_events.filter("NOT cur"), "g", "v", path)
    # a current batch entirely ABOVE the reference range clamps into the
    # top bin: n_cur counted, psi large and finite
    beyond = spark.createDataFrame(
        [("a", 10_000, True)] * 20, "g string, v bigint, cur boolean"
    )
    out = {
        r["g"]: r
        for r in q.psi_drift_probe(beyond, "g", "v", path).collect()
    }
    assert out["a"]["n_cur"] == 20 and out["a"]["psi"] > 0.25
    # group b had no current rows at all: still audited, psi ~ 0 vs
    # the uniform-smoothed empty batch
    assert out["b"]["n_cur"] == 0
    # a group absent from the store is not audited (no frozen geometry)
    ghost = spark.createDataFrame(
        [("zzz", 1, True)], "g string, v bigint, cur boolean"
    )
    assert (
        q.psi_drift_probe(ghost, "g", "v", path)
        .filter(F.col("g") == "zzz")
        .count()
        == 0
    )


def test_psi_windows_single_window_equals_probe(spark, tmp_path, drift_events):
    """A window expression holding the whole current batch must reproduce
    psi_drift_probe exactly (shared tail, shared geometry); distinct
    windows get independent PSI rows and empty (group, window) pairs are
    absent."""
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import quality as q

    path = _store(tmp_path, "psi_w")
    q.psi_reference_write(drift_events.filter("NOT cur"), "g", "v", path)
    cur = drift_events.filter("cur")
    one = {
        (r["g"], r["w"]): (r["n_ref"], r["n_cur"], r["psi"])
        for r in q.psi_drift_windows(
            cur.withColumn("w", F.lit("all")), "g", "v", "w", path
        ).collect()
    }
    probe = {
        r["g"]: (r["n_ref"], r["n_cur"], r["psi"])
        for r in q.psi_drift_probe(cur, "g", "v", path).collect()
    }
    assert {g: one[(g, "all")] for g in probe} == probe
    # two windows: group a rows split by value parity — both audited
    # independently, group b only where it has rows
    two = q.psi_drift_windows(
        cur.withColumn("w", (F.col("v") % 2 == 0).cast("string")),
        "g", "v", "w", path,
    ).collect()
    keys = {(r["g"], r["w"]) for r in two}
    assert keys == {("a", "true"), ("a", "false"), ("b", "true"), ("b", "false")}
    assert all(r["n_cur"] > 0 for r in two)


def test_ks_windows_per_window_equals_probe(spark, tmp_path, drift_events):
    """Each (group, window) row of ks_drift_windows must equal running
    ks_drift_probe on that window's rows alone (shared tail, no
    geometry)."""
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import quality as q

    path = _store(tmp_path, "ks_w")
    q.ks_reference_write(drift_events.filter("NOT cur"), "g", "v", path)
    cur = drift_events.filter("cur").withColumn(
        "w", (F.col("v") % 2 == 0).cast("string")
    )
    series = {
        (r["g"], r["w"]): (r["n_ref"], r["n_cur"], r["ks_x1e6"])
        for r in q.ks_drift_windows(cur, "g", "v", "w", path).collect()
    }
    assert set(series) == {
        ("a", "true"), ("a", "false"), ("b", "true"), ("b", "false")
    }
    for (g, w), got in series.items():
        # the probe also emits the OTHER store group with n_cur=0 (it
        # audits every stored group); the series only emits windows a
        # group has rows for — compare the matching group's row
        alone = {
            r["g"]: (r["n_ref"], r["n_cur"], r["ks_x1e6"])
            for r in q.ks_drift_probe(
                cur.filter((F.col("g") == g) & (F.col("w") == w)),
                "g", "v", path,
            ).collect()
        }
        assert alone[g] == got, (g, w)


def test_chi2_windows_per_window_equals_probe(spark, tmp_path, drift_events):
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import quality as q

    path = _store(tmp_path, "chi2_w")
    q.chi2_reference_write(drift_events.filter("NOT cur"), "g", path)
    cur = drift_events.filter("cur").withColumn(
        "w", (F.col("v") % 3 == 0).cast("string")
    )
    series = {
        r["w"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["chi2"])
        for r in q.chi2_drift_windows(cur, "g", "w", path).collect()
    }
    assert set(series) == {"true", "false"}
    for w, got in series.items():
        alone = q.chi2_drift_probe(
            cur.filter(F.col("w") == w), "g", path
        ).collect()[0]
        assert (
            alone["n_ref"], alone["n_cur"], alone["n_categories"],
            alone["chi2"],
        ) == got, w


def test_ks_and_chi2_probes_bitwise_equal_batch(spark, tmp_path, drift_events):
    from wms_data_pipeline_spark.operators import quality as q

    ks_path = _store(tmp_path, "ks")
    q.ks_reference_write(drift_events.filter("NOT cur"), "g", "v", ks_path)
    probe = q.ks_drift_probe(
        drift_events.filter("cur"), "g", "v", ks_path
    ).orderBy("g").collect()
    batch = q.ks_drift(drift_events, "g", "v", "cur").orderBy("g").collect()
    assert probe == batch

    chi_path = _store(tmp_path, "chi2")
    q.chi2_reference_write(drift_events.filter("NOT cur"), "g", chi_path)
    # chi2 is categorical over g itself; add a category that first
    # appears in the current batch — must enter with ref count 0,
    # exactly as the batch pooled aggregate counts it
    cur_plus = drift_events.filter("cur").unionByName(
        spark.createDataFrame(
            [("new_cat", 1, True)] * 5, "g string, v bigint, cur boolean"
        )
    )
    all_rows = drift_events.unionByName(
        spark.createDataFrame(
            [("new_cat", 1, True)] * 5, "g string, v bigint, cur boolean"
        )
    )
    probe2 = q.chi2_drift_probe(cur_plus, "g", chi_path).collect()
    batch2 = q.chi2_drift(all_rows, "g", "cur").collect()
    assert probe2 == batch2
    assert probe2[0]["n_categories"] == 3


# -------------------------------------------------- Adam7 PNG interlace
def test_png_adam7_roundtrip_all_shapes_and_colortypes():
    """Adam7 interlace roundtrips bit-exact for every colortype and for
    the awkward shapes (1x1, 1xN, Nx1, < 8 px) where some passes are
    empty; interlacing genuinely changes the stored stream."""
    import random

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(11)
    for w, h in ((1, 1), (1, 5), (5, 1), (3, 3), (7, 6), (8, 8), (13, 11)):
        for ct, bpp in ((0, 1), (2, 3), (4, 2), (6, 4)):
            px = bytes(rng.randrange(256) for _ in range(bpp * w * h))
            plain = mm.decode_image_real(
                mm.encode_png(w, h, px, colortype=ct)
            )
            inter = mm.decode_image_real(
                mm.encode_png(w, h, px, colortype=ct, interlace=True)
            )
            assert inter["raster"] == plain["raster"], (w, h, ct)
            assert inter["width"] == w and inter["height"] == h
    # palette colortype through the same path
    pal = bytes(rng.randrange(256) for _ in range(48))
    idx = bytes(rng.randrange(16) for _ in range(13 * 11))
    plain = mm.decode_image_real(
        mm.encode_png(13, 11, idx, colortype=3, palette=pal)
    )
    inter = mm.decode_image_real(
        mm.encode_png(13, 11, idx, colortype=3, palette=pal, interlace=True)
    )
    assert inter["raster"] == plain["raster"]
    # interlacing is not a no-op flag: streams differ for a non-trivial
    # image
    px = bytes(range(256)) * (3 * 13 * 11 // 256 + 1)
    px = px[: 3 * 13 * 11]
    assert mm.encode_png(13, 11, px) != mm.encode_png(
        13, 11, px, interlace=True
    )


def test_png_adam7_truncation_raises():
    import struct
    import zlib

    from wms_data_pipeline_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_png(8, 8, bytes(192), interlace=True))
    # rebuild the IDAT with the last pass's scanlines chopped off
    sig_end = 8
    pos = sig_end
    out = bytes(blob[:sig_end])
    while pos < len(blob):
        clen = struct.unpack_from(">I", blob, pos)[0]
        ctype = bytes(blob[pos + 4 : pos + 8])
        data = bytes(blob[pos + 8 : pos + 8 + clen])
        if ctype == b"IDAT":
            lines = zlib.decompress(data)
            data = zlib.compress(lines[:-5], 6)
            chunk = (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(
                    ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
                )
            )
            out += chunk
        else:
            out += bytes(blob[pos : pos + 12 + clen])
        pos += 12 + clen
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated interlaced PNG|scanline data"):
        mm.decode_image_real(out)


def _insert_png_chunk(blob: bytes, after: bytes, ctype: bytes, data: bytes) -> bytes:
    """Insert a chunk right after the first chunk of type ``after``."""
    import struct
    import zlib

    pos = 8
    while pos < len(blob):
        clen = struct.unpack_from(">I", blob, pos)[0]
        here = blob[pos + 4 : pos + 8]
        pos += 12 + clen
        if here == after:
            chunk = (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )
            return blob[:pos] + chunk + blob[pos:]
    raise AssertionError(f"no {after!r} chunk")


def test_png_trns_dropped_with_validation():
    """tRNS transparency is parsed+validated then DROPPED (the documented
    alpha-strip contract); malformed tRNS quarantines."""
    import random

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(13)
    pal = bytes(rng.randrange(256) for _ in range(48))
    idx = bytes(rng.randrange(16) for _ in range(7 * 5))
    plain = mm.encode_png(7, 5, idx, colortype=3, palette=pal)
    with_trns = _insert_png_chunk(plain, b"PLTE", b"tRNS", bytes([128] * 10))
    assert (
        mm.decode_image_real(with_trns)["raster"]
        == mm.decode_image_real(plain)["raster"]
    )
    # gray and RGB single-color transparency forms accepted + dropped
    gray = mm.encode_png(4, 4, bytes(16), colortype=0)
    ok = _insert_png_chunk(gray, b"IHDR", b"tRNS", b"\x00\x07")
    assert mm.decode_image_real(ok)["raster"] == mm.decode_image_real(gray)["raster"]
    rgb = mm.encode_png(4, 4, bytes(48))
    ok2 = _insert_png_chunk(rgb, b"IHDR", b"tRNS", bytes(6))
    assert mm.decode_image_real(ok2)["raster"] == mm.decode_image_real(rgb)["raster"]
    # malformed forms quarantine
    with pytest.raises(ValueError, match="at most one alpha byte"):
        mm.decode_image_real(
            _insert_png_chunk(plain, b"PLTE", b"tRNS", bytes(32))
        )
    with pytest.raises(ValueError, match="must be 2 bytes"):
        mm.decode_image_real(_insert_png_chunk(gray, b"IHDR", b"tRNS", b"\x01"))
    rgba = mm.encode_png(4, 4, bytes(64), colortype=6)
    with pytest.raises(ValueError, match="alpha is already a channel"):
        mm.decode_image_real(
            _insert_png_chunk(rgba, b"IHDR", b"tRNS", bytes(6))
        )


def test_png_16bit_decodes_to_high_bytes():
    """16-bit PNGs decode through the full filter chain (byte-wise
    filters with 2-byte samples) and reduce to the high byte of each
    big-endian sample — plain and Adam7, all non-palette colortypes."""
    import random

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(17)
    for ct, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        w, h = 9, 7
        hi = [rng.randrange(256) for _ in range(ch * w * h)]
        px16 = b"".join(
            bytes([v, rng.randrange(256)]) for v in hi
        )
        expected_channels = 1 if ct in (0, 4) else 3
        keep = (
            hi
            if ct in (0, 2)
            else [
                v
                for i in range(0, len(hi), ch)
                for v in hi[i : i + ch - 1]
            ]
        )
        for inter in (False, True):
            out = mm.decode_image_real(
                mm.encode_png(
                    w, h, px16, colortype=ct, depth=16, interlace=inter
                )
            )
            assert out["channels"] == expected_channels, (ct, inter)
            assert out["raster"] == bytes(keep), (ct, inter)
    with pytest.raises(ValueError, match="invalid per spec"):
        mm.encode_png(2, 2, bytes(8), colortype=3, palette=bytes(6), depth=16)


def test_png_packed_depths_roundtrip():
    """1/2/4-bit packed PNGs (grayscale scaled to 8-bit, palette via
    PLTE) decode correctly, plain and Adam7, at widths that straddle
    byte boundaries — completing full spec depth coverage."""
    import random

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(19)
    scale = {1: 255, 2: 85, 4: 17}
    for depth in (1, 2, 4):
        for w, h in ((1, 1), (3, 2), (7, 5), (8, 3), (9, 4), (13, 6)):
            samples = bytes(
                rng.randrange(1 << depth) for _ in range(w * h)
            )
            for inter in (False, True):
                out = mm.decode_image_real(
                    mm.encode_png(
                        w, h, samples, colortype=0, depth=depth,
                        interlace=inter,
                    )
                )
                assert out["channels"] == 1 and out["width"] == w
                assert out["raster"] == bytes(
                    v * scale[depth] for v in samples
                ), (depth, w, h, inter)
        # palette at this depth
        n_pal = 1 << depth
        pal = bytes(rng.randrange(256) for _ in range(3 * n_pal))
        idx = bytes(rng.randrange(n_pal) for _ in range(13 * 6))
        for inter in (False, True):
            out = mm.decode_image_real(
                mm.encode_png(
                    13, 6, idx, colortype=3, palette=pal, depth=depth,
                    interlace=inter,
                )
            )
            expected = b"".join(
                pal[3 * i : 3 * i + 3] for i in idx
            )
            assert out["raster"] == expected, (depth, inter)
    # spec-illegal combinations quarantine
    with pytest.raises(ValueError, match="only valid for grayscale"):
        mm.encode_png(2, 2, bytes(4), colortype=2, depth=4)
    with pytest.raises(ValueError, match="out of range for depth"):
        mm.encode_png(2, 2, bytes([4, 0, 0, 0]), colortype=0, depth=2)


# ------------------------------------------------- animated GIF frames
def test_gif_animation_roundtrip_and_sampling(spark):
    import random

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = random.Random(23)
    pal = bytes(rng.randrange(256) for _ in range(768))
    w, h = 5, 4
    frames = [
        bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(5)
    ]
    blob = mm.encode_gif_animation(w, h, frames, pal, delay_cs=4)
    got = mm.gif_frames(blob)
    assert len(got) == 5
    for f, fr in zip(frames, got):
        assert fr["indices"] == f and (fr["width"], fr["height"]) == (w, h)
    # single-frame compatibility: a plain encode_gif blob is one frame,
    # interlaced included
    one = mm.gif_frames(mm.encode_gif(w, h, frames[0], pal, interlace=True))
    assert len(one) == 1 and one[0]["indices"] == frames[0]
    # the sampled feature stage: every 2nd frame of 5 -> indices 0, 2, 4
    df = spark.createDataFrame([(3,)], "doc_id bigint")
    rows = mm.gif_frame_features(
        mm.with_gif_animation_content(df), every_n=2
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]  # nf = 3%4+2 = 5
    assert all(r["n_frames"] == 5 for r in rows)
    i, fr0 = 3, rows[0]
    wv, hv = i % 6 + 2, i % 3 + 2
    idx = [((i + p) * 41) % 251 for p in range(wv * hv)]
    assert fr0["mean_r"] == round(sum(idx) / (wv * hv), 6)
    # truncation mid-frame quarantines
    with pytest.raises(ValueError):
        mm.gif_frames(blob[: len(blob) // 2])
    with pytest.raises(ValueError, match="every_n"):
        mm.gif_frame_features(df, every_n=0)


# -------------------------------------------------------- G.711 A-law
def test_wav_alaw_decode():
    """A-law: the other half of G.711 (verdict r10 task 5) — same
    contract as the round-10 mu-law test: bounded quantization error,
    companding idempotent on the expanded lattice, byte-perfect
    encode(decode(byte)) over all 256 codes."""
    import numpy as np

    from wms_data_pipeline_spark.operators import multimodal as mm

    rng = np.random.default_rng(2)
    s = rng.integers(-32768, 32768, 5000).astype(np.int16)
    al = mm.alaw_encode(s)
    arr, meta = mm.wav_samples(
        mm.encode_wav(8000, al, bits=8, audio_format=6)
    )
    assert meta["audio_format"] == 6 and meta["n_samples"] == 5000
    # top A-law segment step is 2^11 in 13-bit domain = 2^8 shifted;
    # worst-case error is half a step in the 16-bit domain
    assert np.abs(arr.astype(int) - s.astype(int)).max() <= 1024
    assert mm.alaw_encode(arr) == al
    # every code decodes then re-encodes to itself (table consistency)
    all_codes = bytes(range(256))
    decoded = mm._alaw_table()[np.frombuffer(all_codes, dtype=np.uint8)]
    assert mm.alaw_encode(decoded) == all_codes
    # boundary values survive
    edge = np.array([0, 1, -1, 8, -8, 32767, -32768], dtype=np.int16)
    arr2, _ = mm.wav_samples(
        mm.encode_wav(8000, mm.alaw_encode(edge), bits=8, audio_format=6)
    )
    assert np.abs(arr2.astype(int) - edge.astype(int)).max() <= 1024


def test_wav_alaw_through_audio_features(spark):
    """A-law blobs flow through the SAME Arrow mapInPandas stage as PCM
    (the multimodal plumbing contract): per-row WAVs, real decode,
    feature stats match numpy on the expanded samples."""
    import numpy as np
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import multimodal as mm

    ids = list(range(12))
    blobs = []
    expected = {}
    for i in ids:
        n = 50 + i * 7
        s = (((i + np.arange(n, dtype=np.int64)) * 91) % 65536 - 32768).astype(
            np.int16
        )
        al = mm.alaw_encode(s)
        blobs.append((i, bytearray(mm.encode_wav(8000, al, bits=8, audio_format=6))))
        dec = mm._alaw_table()[np.frombuffer(al, dtype=np.uint8)]
        expected[i] = (n, int(np.abs(dec.astype(np.int64)).sum()))
    df = spark.createDataFrame(blobs, "doc_id bigint, content binary")
    out = {
        r["doc_id"]: r
        for r in mm.audio_features(df).select(
            "doc_id", "n_samples", "sum_abs"
        ).collect()
    }
    for i in ids:
        assert (out[i]["n_samples"], out[i]["sum_abs"]) == expected[i], i


# -------------------------------------------------- chi2 audit kind
def test_audit_batch_chi2_kind(spark, tmp_path):
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.control.audit import audit_batch
    from wms_data_pipeline_spark.operators.quality import (
        chi2_drift,
        chi2_reference_write,
    )

    ref = spark.createDataFrame(
        [("x",)] * 30 + [("y",)] * 30, "status string"
    )
    path = str(tmp_path / "chi2ref")
    chi2_reference_write(ref, "status", path)
    cur = spark.createDataFrame([("x",)] * 20 + [("z",)] * 10, "status string")
    rows = {
        (r["kind"], r["key"], r["metric"]): r
        for r in audit_batch(
            cur, 3, "orders", drift_cat=("status", path)
        ).collect()
    }
    c = rows[("chi2_drift", "status", "chi2")]
    n = rows[("chi2_drift", "status", "n_categories")]
    assert c["batch_id"] == 3 and c["n_rows"] == 30 and n["value"] == 3.0
    # the probe statistic is the batch recompute's, bit for bit
    both = ref.withColumn("cur", F.lit(False)).unionByName(
        cur.withColumn("cur", F.lit(True))
    )
    batch = chi2_drift(both, "status", "cur").collect()[0]
    assert c["value"] == batch["chi2"]
    with pytest.raises(ValueError, match="nothing to audit"):
        audit_batch(cur, 3, "orders")


def test_audit_batch_embedding_kind(spark, tmp_path):
    import random

    from wms_data_pipeline_spark.control.audit import audit_batch
    from wms_data_pipeline_spark.operators.quality import (
        embedding_drift_probe,
        embedding_reference_write,
    )

    rng = random.Random(7)
    ref = spark.createDataFrame(
        [(i, [1.0 + rng.gauss(0, 0.1) for _ in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "embref")
    embedding_reference_write(ref, "embedding", path)
    cur = spark.createDataFrame(
        [(i, [1.5 + rng.gauss(0, 0.1) for _ in range(8)]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    rows = {
        r["metric"]: r
        for r in audit_batch(
            cur, 7, "embeddings", drift_emb=("embedding", path)
        ).collect()
    }
    assert set(rows) == {"centroid_cosine", "mean_gap_l2", "max_dim_gap"}
    assert all(r["kind"] == "embedding_drift" and r["n_rows"] == 10
               for r in rows.values())
    # values are the probe's, verbatim
    probe = embedding_drift_probe(cur, "embedding", path).collect()[0]
    for m in rows:
        assert rows[m]["value"] == probe[m], m
    assert rows["mean_gap_l2"]["value"] > 0.3  # the shift is visible


# ------------------------------------------------------ embedding drift
def test_embedding_drift_probe_equals_batch(spark, tmp_path):
    import math
    import random

    from wms_data_pipeline_spark.operators import quality as q

    rng = random.Random(5)
    rows = []
    for i in range(80):
        # both populations anchored at 1.0 (a zero-mean reference
        # centroid is directionless noise); current shifted +0.5 in
        # dims 0-3
        shift = 0.5 if i % 4 == 0 else 0.0
        vec = [
            1.0 + rng.gauss(0, 0.1) + (shift if d < 4 else 0.0)
            for d in range(16)
        ]
        rows.append((i, vec, i % 4 == 0))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, is_cur boolean"
    )
    batch = q.embedding_drift(df, "embedding", "is_cur").collect()[0]
    assert batch["n_ref"] == 60 and batch["n_cur"] == 20
    assert 0.9 < batch["centroid_cosine"] < 1  # real directional shift
    assert batch["mean_gap_l2"] > 0.8 and batch["max_dim_gap"] > 0.3
    path = str(tmp_path / "embref")
    q.embedding_reference_write(df.filter("NOT is_cur"), "embedding", path)
    probe = q.embedding_drift_probe(
        df.filter("is_cur"), "embedding", path
    ).collect()[0]
    assert probe == batch  # bit-identical at the rounding grain
    # no drift against itself: cosine 1, gaps ~0
    self_probe = q.embedding_drift_probe(
        df.filter("NOT is_cur"), "embedding", path
    ).collect()[0]
    assert self_probe["centroid_cosine"] == 1.0
    assert self_probe["mean_gap_l2"] == 0.0
    assert math.isclose(self_probe["max_dim_gap"], 0.0, abs_tol=1e-6)


# ------------------------------------------------------- BPE encoding
def test_bpe_encode_hand_case_and_trainer_roundtrip(spark):
    from wms_data_pipeline_spark.operators import text as txt

    docs = spark.createDataFrame(
        [(1, "ab ab c"), (2, ""), (3, None), (4, "ABAB")],
        "doc_id bigint, text string",
    )
    # hand case: one merge (a,b) -> 'ab c' word shapes
    out = {
        r.doc_id: r.n_bpe_tokens
        for r in txt.bpe_encode(docs, [("a", "b")]).collect()
    }
    # "ab" -> [ab, </w>] x2; "c" -> [c, </w>]; "ABAB" lowercases ->
    # [ab, ab, </w>]
    assert out == {1: 6, 2: 0, 3: None, 4: 3}
    # chained merges apply in rank order: (a,b) then (ab,ab)
    out2 = txt.bpe_encode(docs, [("a", "b"), ("ab", "ab")]).collect()
    assert {r.doc_id: r.n_bpe_tokens for r in out2}[4] == 2

    # trainer roundtrip: encode with LEARNED merges == pure-Python encoder
    corpus = spark.createDataFrame(
        [(i, "low lower lowest newer new " * (i + 1)) for i in range(4)],
        "doc_id bigint, text string",
    )
    merges_df, _ = txt.bpe_train(corpus, num_merges=6)
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in txt.bpe_encode(corpus, merges_df).collect()
    }
    pairs = [
        (r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()
    ]

    def py_encode(word):
        syms = list(word) + ["</w>"]
        for left, right in pairs:
            j, o = 0, []
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                    o.append(left + right)
                    j += 2
                else:
                    o.append(syms[j])
                    j += 1
            syms = o
        return len(syms)

    for i in range(4):
        text = "low lower lowest newer new " * (i + 1)
        assert got[i] == sum(py_encode(w) for w in text.split()), i

    with pytest.raises(ValueError, match="rank/left/right"):
        txt.bpe_encode(docs, docs)
    orig = txt.MAX_BPE_MERGES
    txt.MAX_BPE_MERGES = 1
    try:
        with pytest.raises(ValueError, match="MAX_BPE_MERGES"):
            txt.bpe_encode(docs, [("a", "b"), ("b", "c")])
    finally:
        txt.MAX_BPE_MERGES = orig


# ----------------------------------------------- personalized pagerank
def test_personalized_pagerank_semantics(spark):
    from wms_data_pipeline_spark.operators import graph as gr

    # star around the seed (a <-> b, a <-> c: no dangling nodes, fast
    # geometric convergence), plus an isolated pair x -> y unreachable
    # from the seed
    edges = spark.createDataFrame(
        [
            ("a", "b", 1),
            ("a", "c", 1),
            ("b", "a", 1),
            ("c", "a", 1),
            ("x", "y", 1),
        ],
        "src string, dst string, weight long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    r = {
        row["node"]: row["rank_scaled"]
        for row in gr.personalized_pagerank(
            edges, seeds, iterations=12, checkpoint_every=3
        ).collect()
    }
    assert set(r) == {"a", "b", "c", "x", "y"}
    # fixed point: a = 0.15 + 0.85(b + c), b = c = 0.425a ->
    # a ~ 0.5405, b = c ~ 0.23. The 2-cycle a<->{b,c} converges as an
    # alternating series with ratio 0.7225 per 2 iterations, so after
    # 12 the residual is ~0.7225^6 * 0.46 ~ 0.066 of SCALE; unreachable
    # nodes -> 0
    assert r["a"] > r["b"] == r["c"] > 0
    assert abs(r["a"] - 540_500_000) < 80_000_000
    assert r["x"] == 0 and r["y"] == 0
    # mass conservation up to integer-truncation leakage
    assert sum(r.values()) <= gr.PR_SCALE
    assert sum(r.values()) > gr.PR_SCALE * 0.98
    # a seed with no edges at all still holds its teleport mass
    lonely = spark.createDataFrame([("zzz",)], "node string")
    r2 = {
        row["node"]: row["rank_scaled"]
        for row in gr.personalized_pagerank(
            edges, lonely, iterations=3
        ).collect()
    }
    assert r2["zzz"] > 0 and r2["a"] == 0
    with pytest.raises(ValueError, match="empty seed set"):
        gr.personalized_pagerank(
            edges, seeds.filter("node = 'nope'"), iterations=2
        )
    bad = spark.createDataFrame(
        [("a", "b", 0)], "src string, dst string, weight long"
    )
    with pytest.raises(ValueError, match="non-positive"):
        gr.personalized_pagerank(bad, seeds, iterations=2)


# ------------------------------------------------ ParquetTable time travel
def test_parquet_table_time_travel(spark, tmp_path):
    from wms_data_pipeline_spark.operators.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tt"), keep_versions=3)
    from datetime import datetime

    rows = [
        [("a", datetime(2026, 1, 1, h), f"S{h}")] for h in range(1, 5)
    ]
    for r in rows:
        t.upsert_latest(
            spark.createDataFrame(r, "id string, updated_at timestamp, s string")
        )
    assert t.versions() == [2, 3, 4]  # v1 pruned by keep_versions=3
    assert t.read().collect()[0]["s"] == "S4"
    assert t.read(version=2).collect()[0]["s"] == "S2"
    with pytest.raises(ValueError, match="was pruned"):
        t.read(version=1)
    with pytest.raises(ValueError, match="not committed yet"):
        t.read(version=9)
    # default retention keeps only the current version (original behavior)
    d = ParquetTable(spark, str(tmp_path / "tt1"))
    for r in rows[:2]:
        d.upsert_latest(
            spark.createDataFrame(r, "id string, updated_at timestamp, s string")
        )
    assert d.versions() == [2]
    # lowering retention on an existing table reclaims older snapshots
    shrink = ParquetTable(spark, str(tmp_path / "tt"), keep_versions=1)
    shrink.upsert_latest(
        spark.createDataFrame(
            [("a", datetime(2026, 1, 1, 6), "S6")],
            "id string, updated_at timestamp, s string",
        )
    )
    assert shrink.versions() == [5]
    with pytest.raises(ValueError):
        ParquetTable(spark, str(tmp_path / "x"), keep_versions=0)
    with pytest.raises(ValueError, match="no commits"):
        ParquetTable(spark, str(tmp_path / "empty")).read(version=1)


# ------------------------------------------- graph_rounds metadata API
def test_graph_rounds_metadata(spark):
    from pyspark.sql import functions as F

    from wms_data_pipeline_spark.operators import graph as gr

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src bigint, dst bigint"
    )
    srcs = spark.createDataFrame([(1,)], "node bigint")
    out = gr.bfs_hops(
        edges, srcs, max_hops=6, strategy="distributed", checkpoint_every=1,
    )
    assert out.count() == 3
    assert gr.graph_rounds(out) <= 4
    # joining two fixed-point results leaves TWO rounds-carrying columns;
    # col=None must refuse to guess which operator the caller means
    costed = edges.withColumn("cost", F.lit(1))
    sp = gr.shortest_paths(
        costed, srcs, max_hops=6, strategy="distributed", checkpoint_every=1,
    )
    joined = out.join(sp, "node")
    with pytest.raises(ValueError, match="multiple columns carry rounds"):
        gr.graph_rounds(joined)
    assert gr.graph_rounds(joined, col="hops") <= 4
    assert gr.graph_rounds(joined, col="dist_cost") <= 4
    # and a frame with no rounds metadata reports None, not an error
    assert gr.graph_rounds(edges) is None
