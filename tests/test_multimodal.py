"""Multimodal binary-column plumbing: payload minting, expression
dHash vs the Arrow-batched mapInPandas feature extractor, decode-stub
contracts, resize and frame sampling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ppack_spark.operators.multimodal import (
    PAYLOAD_BYTES,
    decode_image_batch,
    dhash_from_hex,
    extract_media_features,
    frame_sample_indices,
    phash_near_dup_pairs,
    resize_gray,
    with_fake_media,
)


@pytest.fixture(scope="module")
def media(spark, tables):
    d = tables["documents"].select("doc_id")
    n = d.count()
    return with_fake_media(d, dup_groups=max(n // 5, 1)), n


def test_payload_is_binary_and_sized(media):
    df, _ = media
    row = df.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert len(row["payload"]) == PAYLOAD_BYTES
    assert row["kind"] in ("image", "audio", "video")
    assert row["meta"]["width"] >= 64 and row["meta"]["height"] >= 64


def test_planted_duplicate_groups_have_identical_payloads(media):
    df, n = media
    groups = (
        df.groupBy("payload_hex")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("payload").alias("d"))
        .toPandas()
    )
    assert (groups["d"] == 1).all()
    assert (groups["n"] > 1).any(), "dup_groups should plant real duplicate payloads"


def test_mapinpandas_features_match_expression_phash(media):
    """The Arrow-batched extractor and the pure-JVM expression must
    compute the SAME dHash from the same bytes (plumbing parity)."""
    df, _ = media
    feats = extract_media_features(df).select("media_id", "phash", "n_bytes", "thumb_w", "thumb_h")
    expr = df.select(
        F.col("doc_id").alias("media_id"),
        dhash_from_hex("payload_hex").alias("phash_expr"),
    )
    joined = feats.join(expr, on="media_id").toPandas()
    assert len(joined) > 0
    assert (joined["phash"] == joined["phash_expr"]).all()
    assert (joined["n_bytes"] == PAYLOAD_BYTES).all()
    assert (joined["thumb_w"] == 8).all() and (joined["thumb_h"] == 8).all()


def test_near_dup_contains_planted_groups(media):
    df, n = media
    pairs = phash_near_dup_pairs(df).toPandas()
    assert len(pairs) > 0
    assert (pairs["hamming"] == 0).any(), "identical payloads must collide at hamming 0"


def test_codec_absent_degrades_to_typed_nulls(media):
    """The 100 TB failure contract: with the codec unavailable
    (codec='none' simulates the missing library this container can't
    install) the mapInPandas batch must NOT throw — every row still
    delivers its payload-level features (n_bytes, byte_mean, phash
    need no codec), the decode-derived fields come back as typed NULLs
    (int columns, not strings or crashes), and decode_error says why.
    Healthy rows under codec='auto' carry NULL decode_error."""
    df, _ = media
    feats = extract_media_features(df, codec="none")
    pdf = feats.toPandas()
    assert len(pdf) > 0
    assert pdf["thumb_w"].isna().all() and pdf["thumb_h"].isna().all()
    assert pdf["decode_error"].notna().all()
    assert (pdf["decode_error"].str.startswith("CodecUnavailable")).all()
    assert pdf["phash"].notna().all() and pdf["n_bytes"].notna().all()
    # schema stays typed: thumb columns are ints even when all-NULL
    sch = dict(feats.dtypes)
    assert sch["thumb_w"] == "int" and sch["decode_error"] == "string"

    ok = extract_media_features(df).toPandas()
    assert ok["decode_error"].isna().all()

    import pytest

    with pytest.raises(ValueError):
        extract_media_features(df, codec="pil")


def test_corrupt_row_isolated_not_fatal(media, monkeypatch):
    """One poison payload must fail ONLY its own row: the other rows
    in the same Arrow batch keep their thumbnails, and the poison row
    surfaces its exception text in decode_error."""
    import ppack_spark.operators.multimodal as mm

    df, _ = media
    real = mm.decode_image_batch
    # poison one specific payload: the per-row decode (the operator
    # calls the codec row-at-a-time precisely so one bad row can't
    # take down its Arrow batch) fails only for it
    target = bytes(df.select("payload").first()["payload"])

    def poisoned_by_target(payloads, widths, heights):
        if len(payloads) == 1 and bytes(payloads[0]) == target:
            raise RuntimeError("synthetic corrupt payload")
        return real(payloads, widths, heights)

    monkeypatch.setattr(mm, "decode_image_batch", poisoned_by_target)
    pdf = mm.extract_media_features(df).toPandas()
    bad = pdf[pdf["decode_error"].notna()]
    good = pdf[pdf["decode_error"].isna()]
    assert len(bad) >= 1 and len(good) >= 1
    assert bad["thumb_w"].isna().all()
    assert (good["thumb_w"] == 8).all()
    assert bad["decode_error"].str.contains("synthetic corrupt payload").all()


def test_truncated_and_empty_payloads_degrade_per_row(spark):
    """Payload-level features must be TOTAL over any byte length: a
    payload shorter than the dHash window pads with zeros (matching
    the expression twin's out-of-range substr → 0-bit behavior) and an
    empty payload yields NULL byte_mean + a decode_error — neither may
    broadcast-error the whole Arrow batch."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.multimodal import extract_media_features

    rows = [
        (1, bytes(range(48)), 70, 65, 2.0),   # healthy
        (2, bytes(range(5)), 70, 65, 2.0),    # shorter than dhash window
        (3, b"", 70, 65, 2.0),                # empty
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, w int, h int, dur double"
    ).select(
        "doc_id",
        "payload",
        F.lit("image").alias("kind"),
        F.struct(
            F.col("w").alias("width"), F.col("h").alias("height"),
            F.col("dur").alias("duration_s"),
        ).alias("meta"),
    )
    pdf = extract_media_features(df).toPandas().set_index("media_id")
    assert len(pdf) == 3
    assert pdf.loc[1, "decode_error"] is None or pdf.loc[1, "decode_error"] != pdf.loc[1, "decode_error"]
    assert pdf.loc[1, "phash"] is not None
    # short payload: phash computed over zero-padded bytes, decode ok
    assert pdf.loc[2, "phash"] is not None
    # empty payload: fake decoder fails (no bytes to tile) -> row-level
    # error, NULL thumbs, NULL byte_mean; phash of all-zero padding = 0
    assert pdf.loc[3, "phash"] == 0
    import math

    assert math.isnan(pdf.loc[3, "byte_mean"]) or pdf.loc[3, "byte_mean"] is None
    assert isinstance(pdf.loc[3, "decode_error"], str)


def test_decode_stub_contract():
    payload = bytes(range(48))
    (img,) = decode_image_batch([payload], [70], [65])
    assert img.shape == (65, 70)
    assert img.dtype == np.uint8
    # deterministic: same payload, same pixels
    (img2,) = decode_image_batch([payload], [70], [65])
    assert (img == img2).all()


def test_resize_and_frame_sampling():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    thumb = resize_gray(img, 4, 4)
    assert thumb.shape == (4, 4)
    idx = frame_sample_indices(duration_s=10.0, fps=24.0, every_s=1.0)
    assert idx[0] == 0 and len(idx) == 10
    assert all(b - a == 24 for a, b in zip(idx, idx[1:]))


def test_decode_image_batch_pil_branch(monkeypatch):
    """The real-codec branch (PIL importable) must produce grayscale
    uint8 arrays from Image.open(...).convert('L'). The container has
    no PIL, so inject a minimal fake module implementing the exact
    call surface the branch uses — this verifies the branch's code
    path (argument flow, dtype/shape contract), not libjpeg itself."""
    import sys
    import types

    import numpy as np

    class FakeImg:
        def __init__(self, data: bytes):
            self._data = data

        def convert(self, mode: str):
            assert mode == "L"
            # deterministic "decode": 4x4 gray tile from the first byte
            v = self._data[0] if self._data else 0
            self._arr = np.full((4, 4), v, dtype=np.uint8)
            return self

        def __array__(self, dtype=None, copy=None):
            return self._arr.astype(dtype or np.uint8)

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: FakeImg(buf.read())
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    # the import probe is cached once per process (so codec-less rows
    # don't re-walk import machinery); reset it so the injected module
    # is picked up
    import ppack_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_PIL_PROBED", False)
    monkeypatch.setattr(mm, "_PIL_MODULE", None)

    from ppack_spark.operators.multimodal import decode_image_batch

    payloads = [bytes([7] * 16), bytes([250] * 16)]
    out = decode_image_batch(payloads, [8, 8], [8, 8])
    assert len(out) == 2
    for img, expect in zip(out, (7, 250)):
        assert img.dtype == np.uint8
        assert img.shape == (4, 4)  # decoder-reported, not meta, size
        assert int(img[0, 0]) == expect


def test_media_near_dedup_collapses_groups(spark):
    """Identical payloads collapse to the min-id asset per kind
    block; distinct payloads survive."""
    from pyspark.sql import functions as F

    from ppack_spark.operators.multimodal import (
        media_near_dedup,
        with_fake_media,
    )

    base = spark.range(30).withColumnRenamed("id", "doc_id")
    media = with_fake_media(base, dup_groups=5)
    kept = media_near_dedup(media)
    kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # duplicates share payload within (group, kind) blocks; each
    # surviving (payload, kind) class keeps exactly its min id
    classes = media.select(
        "doc_id", "kind", F.md5("payload_hex").alias("h")
    ).collect()
    mins = {}
    for r in classes:
        key = (r["kind"], r["h"])
        mins[key] = min(mins.get(key, r["doc_id"]), r["doc_id"])
    assert kept_ids == sorted(mins.values())


def _encode_ppm(gray_rgb) -> bytes:
    """Test encoder: (h, w, 3) uint8 -> binary P6 with a header comment."""
    h, w, _ = gray_rgb.shape
    return b"P6\n# test image\n%d %d\n255\n" % (w, h) + gray_rgb.tobytes()


def _encode_pgm(img) -> bytes:
    h, w = img.shape
    return b"P5 %d %d 255\n" % (w, h) + img.tobytes()


def _encode_bmp(rgb, top_down: bool = False) -> bytes:
    """Test encoder: (h, w, 3) uint8 -> uncompressed 24-bit BMP with
    4-byte row padding, bottom-up unless top_down."""
    import struct

    import numpy as np

    h, w, _ = rgb.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    bgr = rgb[:, :, ::-1]
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    raster = rows if top_down else rows[::-1]
    pix = raster.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0, len(pix),
        2835, 2835, 0, 0,
    )
    return header + pix


def test_stdlib_decoders_pixel_exact():
    """decode_pnm / decode_bmp must reproduce the source pixels: PGM
    round-trips the gray raster verbatim; PPM and BMP (both raster
    orders) reduce RGB via the same ITU-R 601-2 integer luma PIL's
    convert('L') uses — all four payload forms of one image decode to
    the identical array."""
    import numpy as np

    from ppack_spark.operators.multimodal import decode_bmp, decode_pnm

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(12, 17, 3), dtype=np.uint8)  # odd width -> BMP padding
    gray = (
        (rgb[:, :, 0].astype(int) * 299 + rgb[:, :, 1].astype(int) * 587
         + rgb[:, :, 2].astype(int) * 114) // 1000
    ).astype(np.uint8)
    assert (decode_pnm(_encode_ppm(rgb)) == gray).all()
    assert (decode_pnm(_encode_pgm(gray)) == gray).all()
    assert (decode_bmp(_encode_bmp(rgb)) == gray).all()
    assert (decode_bmp(_encode_bmp(rgb, top_down=True)) == gray).all()


def test_stdlib_decoders_reject_malformed():
    import numpy as np
    import pytest

    from ppack_spark.operators.multimodal import decode_bmp, decode_pnm

    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    ppm, bmp = _encode_ppm(rgb), _encode_bmp(rgb)
    with pytest.raises(ValueError, match="truncated PNM raster"):
        decode_pnm(ppm[:-10])
    with pytest.raises(ValueError, match="truncated BMP raster"):
        decode_bmp(bmp[:-10])
    with pytest.raises(ValueError, match="8-bit PNM"):
        decode_pnm(b"P6 2 2 65535\n" + b"\0" * 24)
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX")
    with pytest.raises(ValueError, match="compressed BMP"):
        bad = bytearray(bmp)
        bad[30] = 1  # BI_RLE8
        decode_bmp(bytes(bad))


def test_real_decode_end_to_end_in_spark(spark):
    """The round-6 gap closed: extract_media_features decodes REAL
    image bytes in-container (binary PNM / uncompressed BMP via the
    stdlib decoders — no PIL needed), and a truncated raster degrades
    to decode_error on its own row while the real formats around it
    keep their thumbnails."""
    import numpy as np
    from pyspark.sql import functions as F

    from ppack_spark.operators.multimodal import extract_media_features

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, size=(32, 48, 3), dtype=np.uint8)
    rows = [
        (1, _encode_ppm(rgb)),                       # real PPM
        (2, _encode_bmp(rgb)),                       # real BMP
        (3, _encode_ppm(rgb)[:-40]),                 # truncated raster
        (4, bytes(range(48))),                       # no magic -> fake tier
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").select(
        "doc_id",
        "payload",
        F.lit("image").alias("kind"),
        F.struct(
            F.lit(70).alias("width"),
            F.lit(65).alias("height"),
            F.lit(2.0).alias("duration_s"),
        ).alias("meta"),
    )
    pdf = extract_media_features(df).toPandas().set_index("media_id")
    assert pdf.loc[1, "decode_error"] is None
    assert pdf.loc[2, "decode_error"] is None
    assert (pdf.loc[1, ["thumb_w", "thumb_h"]] == 8).all()
    assert (pdf.loc[2, ["thumb_w", "thumb_h"]] == 8).all()
    assert "truncated PNM raster" in pdf.loc[3, "decode_error"]
    assert pdf.loc[3, "decode_error"].startswith("ValueError")
    assert pdf.loc[4, "decode_error"] is None  # deterministic fake path
