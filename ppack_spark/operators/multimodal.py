"""Multimodal (binary) column operators.

Images / audio / video are carried as opaque ``binary`` payload
columns plus a typed metadata struct — the layout a 100 TB
training-data lake uses (parquet stores the bytes inline or as
pointers; Spark treats them as first-class BinaryType). Three layers:

* **payload plumbing** (:func:`with_fake_media`) — the fixtures carry
  no media, so payloads are minted deterministically from md5 of a
  seed id. Every byte is reproducible in DuckDB with the same
  md5/hex arithmetic, which keeps the whole family oracle-checkable.
* **perceptual hashing** (:func:`dhash_from_hex`,
  :func:`phash_near_dup_pairs`) — a dHash-style gradient hash
  (bit i = byte_i > byte_{i+1}, the difference-hash construction used
  for image near-dup) computed as a pure JVM expression over the hex
  payload; near-dup pairs by Hamming distance within kind blocks,
  same join shape as operators/dedup.simhash_pairs.
* **decode / feature-extract / resize / frame-sample**
  (:func:`extract_media_features`, :func:`decode_image_batch`,
  :func:`resize_gray`, :func:`frame_sample_indices`) — Arrow-batched
  ``mapInPandas`` plumbing. The container has no image/audio codecs,
  so ``decode_image_batch`` falls back to a clearly-marked
  deterministic fake decoder when PIL is absent; the Spark-side
  schema, partitioning, UDF signature and batch shapes are real and
  tested (tests/test_multimodal.py).

At scale: payload columns dominate bytes — project them away before
any shuffle (the near-dup join moves only (id, kind, phash)), and
spread CPU-heavy decode stages to full parallelism (operators/util).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread

__all__ = [
    "MEDIA_KINDS",
    "with_fake_media",
    "dhash_from_hex",
    "phash_near_dup_pairs",
    "media_near_dedup",
    "extract_media_features",
    "decode_image_batch",
    "resize_gray",
    "frame_sample_indices",
]

MEDIA_KINDS = ["image", "audio", "video"]

# 3 md5 digests = 48 payload bytes; the dHash reads bytes 1..33.
_N_DIGESTS = 3
PAYLOAD_BYTES = 16 * _N_DIGESTS
_DHASH_BITS = 32


def _payload_hex(seed: Column) -> Column:
    """96 hex chars (48 bytes) minted from a seed id — reproducible in
    DuckDB as md5('media1:'||seed) || md5('media2:'||seed) || ..."""
    return F.concat(
        *[
            F.md5(F.concat(F.lit(f"media{i + 1}:"), seed.cast("string")))
            for i in range(_N_DIGESTS)
        ]
    )


def with_fake_media(
    df: DataFrame,
    id_col: str = "doc_id",
    dup_groups: int | None = None,
) -> DataFrame:
    """Attach a deterministic fake media column set:

    * ``payload`` — 48 opaque bytes (BinaryType),
    * ``payload_hex`` — its hex twin (kept so oracle SQL and pure
      expressions can address bytes without blob indexing),
    * ``kind`` — image/audio/video cycling on the id,
    * ``meta`` — typed struct (width, height, duration_s) derived from
      payload bytes.

    ``dup_groups``: when set, payloads are minted from ``id % dup_groups``
    so ids sharing a residue carry IDENTICAL bytes — planted duplicate
    groups for near-dup operators to find.

    The id input is ``spread()`` BEFORE payload minting: everything
    downstream of this helper treats payload columns as
    never-shuffled (the documented invariant of the media operators),
    so this pre-generation shuffle of bare ids is the only place the
    pipeline can pick up core-count parallelism — a 2-split parquet
    scan otherwise pins the md5 payload minting AND every pipelined
    consumer (dHash, segment explode) to 2 cores, which is exactly
    what the round-8 scale proof measured at sf1 (50 s of the media
    chain's 63 s was the 2-core pair stage). Real deployments read
    payloads from thousands of splits; this is the fixture-path twin
    of that shape."""
    df = spread(df)
    idc = F.col(id_col)
    seed = (idc % F.lit(dup_groups)) if dup_groups else idc
    hexc = _payload_hex(seed)
    byte0 = F.conv(F.substring(hexc, 1, 2), 16, 10).cast("int")
    byte1 = F.conv(F.substring(hexc, 3, 2), 16, 10).cast("int")
    return (
        df.withColumn("payload_hex", hexc)
        .withColumn("payload", F.unhex(F.col("payload_hex")))
        .withColumn(
            "kind",
            F.element_at(
                F.array(*[F.lit(k) for k in MEDIA_KINDS]), (idc % 3 + 1).cast("int")
            ),
        )
        .withColumn(
            "meta",
            F.struct(
                (F.lit(64) + byte0).alias("width"),
                (F.lit(64) + byte1).alias("height"),
                (byte0 / F.lit(16.0)).alias("duration_s"),
            ),
        )
    )


def dhash_from_hex(hex_col: Column | str, bits: int = _DHASH_BITS) -> Column:
    """Difference hash over the payload bytes: bit i set iff
    byte_i > byte_{i+1} (the dHash gradient construction). Pure JVM
    expression over the hex twin, so DuckDB can replay it verbatim
    for the oracle.

    Byte comparison trick: for fixed-width LOWERCASE hex pairs the
    lexicographic string order equals the numeric byte order
    ('0'..'9' < 'a'..'f' in ASCII), so ``substr(hex, 2i+1, 2) >
    substr(hex, 2i+3, 2)`` IS ``byte_i > byte_{i+1}`` — no conv()
    chain. The whole hash is a flat sum of ``bits`` codegen'd
    conditionals; the earlier array + zip_with + aggregate fold was
    interpreted node-by-node (~40× slower at sf0.1)."""
    c = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    fp: Column = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(
            F.substring(c, 2 * i + 1, 2) > F.substring(c, 2 * i + 3, 2),
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    return fp


def phash_near_dup_pairs(
    media: DataFrame,
    id_col: str = "doc_id",
    hex_col: str = "payload_hex",
    block_col: str | None = "kind",
    max_hamming: int = 6,
    bits: int = _DHASH_BITS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate media pairs: Hamming(dhash) ≤ ``max_hamming``,
    candidates by pigeonhole segment blocking
    (:func:`~ppack_spark.operators.dedup.hamming_segment_pairs` —
    exact, never all-pairs), additionally confined to ``block_col``
    blocks when given. Only (id, block, phash) enters the join —
    payload bytes never shuffle."""
    from .dedup import hamming_segment_pairs

    s = media.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        dhash_from_hex(hex_col, bits).alias("ph"),
    )
    return hamming_segment_pairs(
        s,
        fp_col="ph",
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        block_col=block_col,
        max_bucket_size=max_bucket_size,
    ).withColumn("hamming", F.col("hamming").cast("long"))


def media_near_dedup(
    media: DataFrame,
    id_col: str = "doc_id",
    hex_col: str = "payload_hex",
    block_col: str = "kind",
    max_hamming: int = 6,
    bits: int = _DHASH_BITS,
) -> DataFrame:
    """Media-column twin of the text ``near_dedup_corpus``: perceptual
    near-duplicate pairs (:func:`phash_near_dup_pairs`) → connected
    components → keep ONE canonical row (min id) per near-dup group,
    singletons untouched — re-encoded copies, thumbnails, and
    recompressions collapse to one stored asset.

    Unlike MinHash banding, the Hamming predicate is already the
    verification (no probabilistic candidate step to double-check), so
    the chain is pairs → components → anti-join directly. Scale shape:
    only (id, block, 64-bit phash) ever shuffles — payload bytes stay
    at the scan until the final anti-join projects the survivors;
    components iterate over id-pair edges with lineage cuts.
    """
    from .cluster import connected_components

    pairs = phash_near_dup_pairs(
        media, id_col, hex_col, block_col, max_hamming, bits
    ).select("id_left", "id_right")
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return media.join(losers, id_col, "left_anti")


# ----------------------------------------------------------------- UDF
# Arrow-batched plumbing: decode / features / resize / frame sampling.


def _rgb_to_gray(r, g, b):
    """ITU-R 601-2 luma with integer truncation — the exact transform
    PIL's ``convert("L")`` applies, so a PIL-decoded and a
    stdlib-decoded image of the same pixels hash identically."""
    return ((r * 299 + g * 587 + b * 114) // 1000).astype("uint8")


def decode_pnm(data: bytes):
    """Stdlib-only binary PNM decoder: P5 (grayscale PGM) and P6 (RGB
    PPM), 8-bit maxval — the real decode path this container CAN run
    (no libjpeg needed; PNM is headers + raw raster). Raises
    ValueError on malformed headers or truncated rasters; callers'
    per-row failure contract turns that into ``decode_error``."""
    import numpy as np

    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PNM payload: magic {magic!r}")
    # header tokens: magic, width, height, maxval; '#' comments run to
    # end-of-line; ONE whitespace byte then the raster
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(data):
            raise ValueError("truncated PNM header")
        c = data[pos : pos + 1]
        if c == b"#":
            nl = data.find(b"\n", pos)
            pos = len(data) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(data) and not data[end : end + 1].isspace():
                end += 1
            tokens.append(data[pos:end])
            pos = end
    pos += 1  # the single whitespace separating header from raster
    try:
        w, h, maxval = (int(tk) for tk in tokens)
    except ValueError:
        raise ValueError(f"bad PNM header tokens: {tokens!r}")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNM dimensions {w}x{h}")
    if not 0 < maxval < 256:
        raise ValueError(f"only 8-bit PNM supported, maxval={maxval}")
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    raster = np.frombuffer(data, dtype=np.uint8, count=-1, offset=pos)
    if len(raster) < need:
        raise ValueError(f"truncated PNM raster: {len(raster)} < {need}")
    px = raster[:need].reshape(h, w, ch)
    if ch == 1:
        return px[:, :, 0].copy()
    return _rgb_to_gray(
        px[:, :, 0].astype("int32"),
        px[:, :, 1].astype("int32"),
        px[:, :, 2].astype("int32"),
    )


def decode_bmp(data: bytes):
    """Stdlib-only decoder for uncompressed 24/32-bit BMP (the format
    Windows screenshots and many labeling tools emit). Handles
    bottom-up and top-down rasters and 4-byte row padding; rejects
    palettized/compressed variants with ValueError (→ decode_error)."""
    import struct

    import numpy as np

    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) unsupported")
    if bpp not in (24, 32):
        raise ValueError(f"only 24/32-bit BMP supported, got {bpp}")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    nch = bpp // 8
    stride = (w * nch + 3) // 4 * 4
    need = stride * h
    raster = np.frombuffer(data, dtype=np.uint8, count=-1, offset=pix_off)
    if len(raster) < need:
        raise ValueError(f"truncated BMP raster: {len(raster)} < {need}")
    rows = raster[:need].reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        rows = rows[::-1]
    # BMP stores BGR(A)
    return _rgb_to_gray(
        rows[:, :, 2].astype("int32"),
        rows[:, :, 1].astype("int32"),
        rows[:, :, 0].astype("int32"),
    )


def decode_image_batch(payloads, widths, heights):
    """Decode a batch of image payloads to grayscale uint8 arrays.

    Per-payload routing by magic bytes: binary PNM (P5/P6) and
    uncompressed BMP decode for REAL via the stdlib decoders above —
    exercised end-to-end in this container. Other formats (JPEG/PNG)
    go to PIL when installed; without it they fall back to the
    DETERMINISTIC FAKE decoder — tiling the payload bytes to
    (height, width) — which keeps shape/dtype contracts (and
    everything downstream: resize, phash, features) real and testable.
    """
    import numpy as np

    out = []
    for p, w, h in zip(payloads, widths, heights):
        head = bytes(p[:2])
        if head in (b"P5", b"P6"):
            out.append(decode_pnm(p))
        elif head == b"BM":
            out.append(decode_bmp(p))
        elif _pil_image() is not None:  # pragma: no cover - no PIL here
            import io

            Image = _pil_image()
            out.append(
                np.asarray(Image.open(io.BytesIO(p)).convert("L"), dtype=np.uint8)
            )
        else:
            buf = np.frombuffer(p, dtype=np.uint8)
            reps = int(np.ceil(w * h / len(buf)))
            out.append(np.tile(buf, reps)[: w * h].reshape(h, w))
    return out


_PIL_MODULE: object = None
_PIL_PROBED = False


def _pil_image():
    """Resolve PIL.Image ONCE per worker process. The per-row decode
    loop in extract_media_features would otherwise re-attempt (and
    re-fail) the import for every row of every Arrow batch in exactly
    the codec-less deployment the fallback exists for.

    Round-9 status (carried since r7): the build environment forbids
    package installation (`import PIL` still fails at r11 HEAD), so
    PIL remains unavailable here and JPEG/PNG stays on this gated
    path; PNM/BMP decode end-to-end via the stdlib decoders below
    (pixel-exact-tested). On a deployment with pillow installed this
    probe picks it up with no code change."""
    global _PIL_MODULE, _PIL_PROBED
    if not _PIL_PROBED:
        _PIL_PROBED = True
        try:  # pragma: no cover - container has no PIL
            from PIL import Image

            _PIL_MODULE = Image
        except ImportError:
            _PIL_MODULE = None
    return _PIL_MODULE


def resize_gray(img, out_w: int, out_h: int):
    """Nearest-neighbour grayscale resize (numpy indexing — no codec
    dependency); the standard pre-hash normalization step."""
    import numpy as np

    h, w = img.shape
    rows = (np.arange(out_h) * h // out_h).astype(int)
    cols = (np.arange(out_w) * w // out_w).astype(int)
    return img[np.ix_(rows, cols)]


def frame_sample_indices(duration_s: float, fps: float = 24.0, every_s: float = 1.0) -> list[int]:
    """Deterministic frame-sampling plan for a video payload: the frame
    index at each ``every_s`` boundary (decode-side fan-out happens in
    the same mapInPandas pass as the decode)."""
    n_frames = int(duration_s * fps)
    step = max(int(every_s * fps), 1)
    return list(range(0, n_frames, step))


FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, byte_mean double, "
    "phash long, thumb_w int, thumb_h int, n_sampled_frames int, "
    "decode_error string"
)


def extract_media_features(
    media: DataFrame, id_col: str = "doc_id", codec: str = "auto"
) -> DataFrame:
    """mapInPandas feature extraction over the binary payload column:
    decode (stub) → resize → dHash → summary features, one Arrow batch
    at a time. Input partitioning is preserved; only the compact
    feature rows come back (never the decoded pixels).

    Failure contract (the part that matters at 100 TB, where SOME
    bytes are always corrupt and a worker without the codec library
    must not kill the job): decode is per-row fallible. A row whose
    decode raises — or every row when ``codec="none"`` simulates the
    library being absent — still emits its payload-level features
    (n_bytes, byte_mean, phash: none of these need a codec), with the
    DECODE-DERIVED fields (thumb_w, thumb_h) as typed NULLs and the
    exception recorded in ``decode_error``; healthy rows carry a NULL
    ``decode_error``. Filter or route on that column downstream —
    the batch never throws. ``codec="auto"`` (default) uses PIL when
    installed, else the deterministic fake decoder."""
    import numpy as np
    import pandas as pd

    if codec not in ("auto", "none"):
        raise ValueError(f"codec must be 'auto' or 'none', got {codec!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            widths = pdf["meta"].map(lambda m: m["width"]).to_numpy()
            heights = pdf["meta"].map(lambda m: m["height"]).to_numpy()
            thumb_w: list[int | None] = []
            thumb_h: list[int | None] = []
            errs: list[str | None] = []
            for p, w, h in zip(payloads, widths, heights):
                if codec == "none":
                    thumb_w.append(None)
                    thumb_h.append(None)
                    errs.append("CodecUnavailable: image codec not installed")
                    continue
                try:
                    (img,) = decode_image_batch([p], [w], [h])
                    th = resize_gray(img, 8, 8)
                    thumb_w.append(int(th.shape[1]))
                    thumb_h.append(int(th.shape[0]))
                    errs.append(None)
                except Exception as exc:  # corrupt bytes must not kill the job
                    thumb_w.append(None)
                    thumb_h.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            phashes = []
            for p in payloads:
                # total over ANY byte length: pad with zeros to the
                # _DHASH_BITS+1 bytes the gradient needs (matches the
                # dhash_from_hex expression twin, whose substr beyond
                # the hex end compares empty strings → 0 bits); a
                # truncated payload must degrade, not broadcast-error
                # the whole Arrow batch
                b = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
                if len(b) < _DHASH_BITS + 1:
                    b = np.pad(b, (0, _DHASH_BITS + 1 - len(b)))
                bits = (b[:_DHASH_BITS] > b[1 : _DHASH_BITS + 1]).astype(np.int64)
                phashes.append(int((bits << np.arange(_DHASH_BITS)).sum()))
            n_frames = [
                len(frame_sample_indices(float(m["duration_s"])))
                if k == "video"
                else 0
                for m, k in zip(pdf["meta"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "byte_mean": [
                        float(np.frombuffer(p, dtype=np.uint8).mean()) if p else None
                        for p in payloads
                    ],
                    "phash": phashes,
                    "thumb_w": pd.array(thumb_w, dtype="Int32"),
                    "thumb_h": pd.array(thumb_h, dtype="Int32"),
                    "n_sampled_frames": n_frames,
                    "decode_error": pd.array(errs, dtype="string"),
                }
            )

    return spread(media).mapInPandas(fn, FEATURE_SCHEMA)
