"""Multimodal column plumbing (SURVEY.md section 2.12).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct. Every codec operator is an Arrow-batched
`mapInPandas` kernel run by one of two runners, which own the batch
loop, the row framing and the id fan-out, so an operator states only
its codec step:

* `_encode_each(docs, id_col, encode)` — fixture prep:
  `encode(doc_id)` returns one genuine payload and its metadata dict;
* `_decode_each(media_df, schema, kernel)` — `kernel(doc_id, payload)`
  decodes one payload and yields output rows in schema order (one row
  per frame for the video kernels).

The codecs are real and need only the stdlib and numpy
(functions/*_codec.py): PNG and APNG (chunk CRCs, zlib inflate, all
five scanline filters), baseline, color and progressive JPEG (Huffman,
IDCT, 4:2:0 chroma, spectral selection + successive approximation),
AVI/MJPEG, RIFF/PCM16 WAV, and GIF87a/89a with LZW. Each fixture
payload is a closed integer formula of the doc id, so an independent
SQL oracle recomputes every decoded statistic exactly. Formats that
need codec libraries absent here (interframe-compressed video, lossy
audio) are not decoded: `extract_features` and `resize_stub` compute
byte-level stand-ins on the same batch shape.

Scale notes: binary payloads ride the normal columnar path (parquet
binary + Arrow batches); mapInPandas processes whole record batches so
per-row Python overhead is amortized; one payload decode is the unit of
parallel work; frame sampling explodes rows *after* the filter so only
sampled frames materialize.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# metadata struct of image and video payloads (DDL)
MEDIA_METADATA = ("struct<media_type:string,codec:string,"
                  "width:int,height:int,n_frames:int>")
AUDIO_METADATA = ("struct<media_type:string,codec:string,"
                  "sample_rate:int,n_channels:int,n_frames:int>")


def _media(media_type: str, codec: str, w: int, h: int,
           n_frames: int = 1) -> dict:
    return {"media_type": media_type, "codec": codec,
            "width": w, "height": h, "n_frames": n_frames}


def _encode_each(docs: DataFrame, id_col: str,
                 encode: Callable[[int], tuple[bytes, dict]],
                 media: str = MEDIA_METADATA) -> DataFrame:
    """Fixture-prep runner: `encode(doc_id) -> (payload, media dict)`
    per document id, emitted as `doc_id bigint, payload binary,
    media <media>` — the contract a parquet binary-column scan gives
    downstream in production."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [(doc_id, *encode(doc_id))
                 for doc_id in pdf[id_col].astype("int64")],
                columns=["doc_id", "payload", "media"])

    # the id projection is a few bytes/row but the kernel is ~1 ms of
    # codec work per row: fan the ids across the cluster FIRST, or the
    # whole encode pipeline runs at the source file's parallelism (a
    # single small parquet file -> one task; measured 4.1 s -> 0.5 s at
    # sf0.1 on local[32])
    n = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select(id_col).repartition(n).mapInPandas(
        batches, f"doc_id bigint, payload binary, media {media}")


def _decode_each(media_df: DataFrame, schema: str,
                 kernel: Callable[[int, bytes], Iterator[tuple]]
                 ) -> DataFrame:
    """Decode runner: `kernel(doc_id, payload)` yields row tuples in
    the order of `schema`'s columns, one per payload or one per frame."""
    columns = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [row for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                 for row in kernel(int(doc_id), bytes(payload))],
                columns=columns)

    return media_df.mapInPandas(batches, schema)


def attach_payload(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary payload + typed metadata from the
    documents fixture (the real pipeline reads these from parquet
    binary columns; the schema contract is identical)."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake-rgb8").alias("codec"),
        (F.pmod(F.col(id_col), F.lit(64)) + 16).cast("int").alias("width"),
        (F.pmod(F.col(id_col), F.lit(48)) + 16).cast("int").alias("height"),
        (F.pmod(F.col(id_col), F.lit(30)) + 1).cast("int").alias("n_frames"),
    )
    return docs.select(id_col, payload.alias("payload"), meta.alias("media"))


FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, head_byte int, byte_sum_mod bigint, "
    "width int, height int"
)


def extract_features(media_df: DataFrame) -> DataFrame:
    """Byte-level features via mapInPandas (Arrow batches) for payloads
    no codec here decodes: deterministic byte statistics plus the
    metadata dimensions (real computation, real batch shape — only the
    codec call is absent)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int32"),
                "head_byte": payloads.map(
                    lambda b: b[0] if len(b) else -1).astype("int32"),
                "byte_sum_mod": payloads.map(
                    lambda b: sum(b) % 1_000_003).astype("int64"),
                "width": pdf["media"].map(lambda m: m["width"]).astype("int32"),
                "height": pdf["media"].map(lambda m: m["height"]).astype("int32"),
            })

    return media_df.mapInPandas(batches, FEATURE_SCHEMA)


def resize_plan(media_df: DataFrame, max_w: int = 224, max_h: int = 224
                ) -> DataFrame:
    """Aspect-preserving fit into (max_w, max_h), never upscaling:
    scale = min(1, max_w/w, max_h/h); target dims floor to >= 1 px.

    The dimension planning is pure JVM-side arithmetic on the metadata
    struct (codegen'd, SQL-oracle-able, no Python); only the pixel
    resample itself touches payload bytes — see resize_stub. Splitting
    the two means the planner can drive batch-size / output-size
    accounting for 100 TB jobs without decoding anything.
    """
    w, h = F.col("media.width"), F.col("media.height")
    scale = F.least(F.lit(1.0), F.lit(max_w) / w, F.lit(max_h) / h)
    return media_df.select(
        "doc_id", w.alias("width"), h.alias("height"),
        F.greatest(F.lit(1), F.floor(w * scale)).cast("int").alias("target_w"),
        F.greatest(F.lit(1), F.floor(h * scale)).cast("int").alias("target_h"),
        (F.greatest(F.lit(1), F.floor(w * scale))
         * F.greatest(F.lit(1), F.floor(h * scale)) * 3)
        .cast("bigint").alias("target_bytes_rgb8"),
    )


RESIZE_SCHEMA = "doc_id bigint, target_w int, target_h int, n_bytes int"


def resize_stub(media_df: DataFrame, max_w: int = 224, max_h: int = 224
                ) -> DataFrame:
    """The pixel-resample step as mapInPandas plumbing for payloads no
    codec here decodes: real batch shape, real planned dimensions, and
    a deterministic byte-slice stand-in for the resampled size."""

    planned = resize_plan(media_df, max_w, max_h).join(
        media_df.select("doc_id", "payload"), "doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = (pdf["target_w"] * pdf["target_h"] * 3).astype("int64")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "target_w": pdf["target_w"],
                "target_h": pdf["target_h"],
                # stand-in: clamp payload to the planned output size
                "n_bytes": [min(len(b), int(m))
                            for b, m in zip(pdf["payload"], n)],
            })

    return planned.mapInPandas(batches, RESIZE_SCHEMA)


# ---- PNG (functions/png_codec.py) -----------------------------------

# Deterministic synthetic image: pixel(x, y, c) =
#   (doc_id % 128) + (x % 32) + (y % 32) + 10*c     (max 209, fits u8)
# Every term is integer arithmetic an ANSI-SQL oracle reproduces
# exactly, and the x/y gradients + per-channel offset make the image
# non-constant so the PNG filters do real work.
PNG_PIXEL_BASE_MOD = 128
PNG_GRADIENT_MOD = 32
PNG_CHANNEL_STEP = 10


def _png_dims(doc_id: int) -> tuple[int, int]:
    return int(doc_id) % 64 + 16, int(doc_id) % 48 + 16  # (w, h)


def _png_pixels(doc_id: int) -> "np.ndarray":
    import numpy as np

    w, h = _png_dims(doc_id)
    base = int(doc_id) % PNG_PIXEL_BASE_MOD
    xg = np.arange(w) % PNG_GRADIENT_MOD
    yg = np.arange(h) % PNG_GRADIENT_MOD
    plane = base + np.add.outer(yg, xg)          # (h, w)
    chans = np.arange(3) * PNG_CHANNEL_STEP
    return (plane[:, :, None] + chans[None, None, :]).astype("uint8")


def attach_png_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the PNG path: one genuine PNG per document
    (pure-stdlib codec, deterministic gradient pixels derived from the
    doc id) plus the typed metadata struct."""
    from event_streaming_service_spark.functions import png_codec

    def encode(doc_id):
        return (png_codec.encode_png(_png_pixels(doc_id)),
                _media("image", "png", *_png_dims(doc_id)))

    return _encode_each(docs, id_col, encode)


PNG_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint, "
    "px_min int, px_max int"
)


def extract_features_png(media_df: DataFrame) -> DataFrame:
    """REAL image feature extraction: decode the PNG payload (CRC
    checks, inflate, unfilter) and emit exact per-channel integer sums
    and the pixel range — numbers an independent SQL oracle recomputes
    from the pixel formula, proving the decode is byte-exact end to
    end. Dimensions come from the DECODED header, not the metadata
    struct, so a payload/metadata mismatch surfaces as a hash break."""
    from event_streaming_service_spark.functions import png_codec

    def kernel(doc_id, payload):
        arr = png_codec.decode_png(payload)
        h, w, _ = arr.shape
        sums = arr.reshape(-1, 3).sum(axis=0, dtype="int64")
        yield (doc_id, w, h, int(sums[0]), int(sums[1]), int(sums[2]),
               int(arr.min()), int(arr.max()))

    return _decode_each(media_df, PNG_FEATURE_SCHEMA, kernel)


PNG_RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, target_w int, target_h int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint, out_bytes int"
)


def resize_png(media_df: DataFrame, target_w: int, target_h: int
               ) -> DataFrame:
    """REAL resample: decode, nearest-neighbor resize to
    (target_w, target_h) — integer index math `src = (dst*size)//target`
    an SQL oracle reproduces — re-encode, and emit the resized
    channel sums plus the re-encoded size. The decode→resample→encode
    chain exercises the whole codec both directions per row."""
    from event_streaming_service_spark.functions import png_codec

    def kernel(doc_id, payload):
        arr = png_codec.decode_png(payload)
        h, w, _ = arr.shape
        small = png_codec.resize_nearest(arr, target_w, target_h)
        sums = small.reshape(-1, 3).sum(axis=0, dtype="int64")
        yield (doc_id, w, h, target_w, target_h,
               int(sums[0]), int(sums[1]), int(sums[2]),
               len(png_codec.encode_png(small)))

    return _decode_each(media_df, PNG_RESIZE_SCHEMA, kernel)


PNG_DHASH_SCHEMA = "doc_id bigint, width int, height int, dhash string"


def image_dhash_png(media_df: DataFrame, grid_w: int = 9,
                    grid_h: int = 8) -> DataFrame:
    """Perceptual image fingerprint (difference hash): decode the PNG,
    integer grayscale (r+g+b) DIV 3, nearest-neighbor sample to a
    (grid_w x grid_h) grid with the same src = (dst*size)//target map
    the resize path uses, then one bit per horizontal neighbor pair
    (right pixel brighter). The hash renders as a hex string — two hex
    chars per row byte — so no 64-bit sign games cross engines.

    dHash is the multimodal arm of the dedup family: identical or
    near-identical images collapse to one hash regardless of their
    byte-level encoding, and grouping by it is the image analogue of
    exact_canonical. Every step after the decode is integer, so an
    SQL oracle regenerates the hash from the pixel formula."""
    import numpy as np

    from event_streaming_service_spark.functions import png_codec

    def kernel(doc_id, payload):
        arr = png_codec.decode_png(payload)
        h, w, _ = arr.shape
        gray = arr.astype("int64").sum(axis=2) // 3
        sx = (np.arange(grid_w, dtype="int64") * w) // grid_w
        sy = (np.arange(grid_h, dtype="int64") * h) // grid_h
        g = gray[sy][:, sx]
        bits = (g[:, 1:] > g[:, :-1]).astype("int64")
        row_bytes = (bits << np.arange(grid_w - 1)).sum(axis=1)
        yield (doc_id, w, h, "".join(f"{int(b):02x}" for b in row_bytes))

    return _decode_each(media_df, PNG_DHASH_SCHEMA, kernel)


WAV_FINGERPRINT_SCHEMA = "doc_id bigint, n_frames bigint, afp string"


def audio_fingerprint_wav(media_df: DataFrame, n_points: int = 64
                          ) -> DataFrame:
    """Acoustic fingerprint: decode the WAV, take channel 0,
    nearest-neighbor decimate to `n_points` samples
    (src = (t * n_frames) // n_points), and hash the SIGN OF THE
    DERIVATIVE — one bit per consecutive pair (later sample strictly
    greater). Rendered as hex (8 bits per byte, final partial byte
    zero-padded in the high bits). The shape-of-the-waveform bit
    pattern survives level scaling and re-encoding — the audio arm of
    the dedup family, grouped like any content hash; integer end to
    end, so the SQL oracle regenerates it from the sample formula."""
    import numpy as np

    from event_streaming_service_spark.functions import wav_codec

    def kernel(doc_id, payload):
        arr, _rate = wav_codec.decode_wav(payload)
        n_frames = arr.shape[0]
        ch0 = arr[:, 0].astype("int64")
        src = (np.arange(n_points, dtype="int64") * n_frames) // n_points
        s = ch0[src]
        bits = (s[1:] > s[:-1]).astype("int64")  # n_points-1
        row_bytes = []
        for j in range((n_points - 1 + 7) // 8):
            chunk = bits[j * 8:(j + 1) * 8]
            row_bytes.append(int((chunk << np.arange(len(chunk))).sum()))
        yield (doc_id, int(n_frames),
               "".join(f"{b:02x}" for b in row_bytes))

    return _decode_each(media_df, WAV_FINGERPRINT_SCHEMA, kernel)


def sample_frames(media_df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame sampling: explode one row per sampled frame index — the
    row-multiplying step runs AFTER filtering so only kept frames
    materialize. Decode of the sampled frame is not part of this step
    (see sample_frames_apng for the decoding version)."""
    idx = F.sequence(F.lit(0), F.col("media.n_frames") - 1, F.lit(every_nth))
    return (
        media_df
        .withColumn("frame_idx", F.explode(idx))
        .select("doc_id", "frame_idx", "media.width", "media.height")
    )


# ----------------------------------------------------------------- jpeg
# Deterministic synthetic JPEG: the image is a grid of CONSTANT 8x8
# tiles with tile value
#   v(tx, ty) = 2*((doc_id % 60) + (tx % 20) + (ty % 20)) + 4
# Constant tiles with EVEN level-shift offsets survive baseline JPEG
# quantization bit-exactly (see functions/jpeg_codec.py), so the SQL
# oracle regenerates every pixel while the engine runs the real
# Huffman+IDCT decode — the same proof device as the PNG formula.
JPEG_BASE_MOD = 60
JPEG_TILE_MOD = 20


def _jpeg_dims(doc_id: int) -> tuple[int, int]:
    return (int(doc_id) % 8 + 2) * 8, (int(doc_id) % 6 + 2) * 8  # (w, h)


def _jpeg_tiles(doc_id: int) -> "np.ndarray":
    import numpy as np

    w, h = _jpeg_dims(doc_id)
    base = int(doc_id) % JPEG_BASE_MOD
    tx = np.arange(w // 8) % JPEG_TILE_MOD
    ty = np.arange(h // 8) % JPEG_TILE_MOD
    return (2 * (base + np.add.outer(ty, tx)) + 4).astype("uint8")


def attach_jpeg_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the JPEG path: one genuine baseline grayscale
    JPEG per document (stdlib/numpy codec, constant-tile pixels derived
    from the doc id) plus typed metadata."""
    import numpy as np

    from event_streaming_service_spark.functions import jpeg_codec

    def encode(doc_id):
        img = np.kron(_jpeg_tiles(doc_id), np.ones((8, 8), dtype="uint8"))
        return (jpeg_codec.encode_jpeg(img),
                _media("image", "jpeg", *_jpeg_dims(doc_id)))

    return _encode_each(docs, id_col, encode)


JPEG_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_blocks int, "
    "px_sum bigint, px_min int, px_max int"
)


def extract_features_jpeg(media_df: DataFrame) -> DataFrame:
    """REAL JPEG feature extraction: full baseline decode (marker
    parse, canonical Huffman, dequantize, IDCT) and exact integer
    pixel statistics. Dimensions come from the DECODED SOF0 header,
    not the metadata struct, so payload/metadata mismatches surface
    as hash breaks."""
    from event_streaming_service_spark.functions import jpeg_codec

    def kernel(doc_id, payload):
        arr = jpeg_codec.decode_jpeg(payload)
        h, w = arr.shape
        yield (doc_id, w, h, (h // 8) * (w // 8),
               int(arr.astype("int64").sum()), int(arr.min()), int(arr.max()))

    return _decode_each(media_df, JPEG_FEATURE_SCHEMA, kernel)


JPEG_RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, target_w int, target_h int, "
    "px_sum bigint, px_min int, px_max int, out_bytes int"
)


def resize_jpeg(media_df: DataFrame, target_w: int, target_h: int
                ) -> DataFrame:
    """REAL JPEG resample: decode, nearest-neighbor resize
    (src = (dst*size)//target, the same integer map as the PNG path),
    re-encode (target dims must be multiples of 8), and emit the
    resized pixel statistics plus the re-encoded size. The
    decode→resample→encode chain exercises the codec both directions;
    the resized stats are exact (resampling an exact decode), while
    out_bytes reflects the lossy re-encode and is projected out by
    the oracle-checked query (entropy-coded length is not
    SQL-expressible)."""
    import numpy as np

    from event_streaming_service_spark.functions import jpeg_codec

    def kernel(doc_id, payload):
        arr = jpeg_codec.decode_jpeg(payload)
        h, w = arr.shape
        sx = (np.arange(target_w, dtype="int64") * w) // target_w
        sy = (np.arange(target_h, dtype="int64") * h) // target_h
        small = arr[sy][:, sx]
        yield (doc_id, w, h, target_w, target_h,
               int(small.astype("int64").sum()),
               int(small.min()), int(small.max()),
               len(jpeg_codec.encode_jpeg(small)))

    return _decode_each(media_df, JPEG_RESIZE_SCHEMA, kernel)


# ---------------------------------------------------------------- audio
# Deterministic synthetic audio: sample(i, ch) =
#   ((doc_id % 97) * 31 + i * 7 + ch * 13) % 2048 - 1024
# — pure integer arithmetic an ANSI-SQL oracle reproduces exactly,
# oscillating through the int16 range so zero-crossing and energy
# statistics are non-trivial. Rate 8000 makes duration_ms = frames/8
# an exact binary double (1000/8000 = 0.125).
WAV_SAMPLE_RATE = 8000
WAV_BASE_MOD = 97
WAV_AMP_MOD = 2048


def _wav_shape(doc_id: int) -> tuple[int, int]:
    """(n_frames, n_channels) for a doc's synthetic clip."""
    return int(doc_id) % 800 + 100, 1 + int(doc_id) % 2


def _wav_samples(doc_id: int) -> "np.ndarray":
    import numpy as np

    n_frames, n_channels = _wav_shape(doc_id)
    base = (int(doc_id) % WAV_BASE_MOD) * 31
    i = np.arange(n_frames, dtype="int64") * 7
    ch = np.arange(n_channels, dtype="int64") * 13
    grid = base + i[:, None] + ch[None, :]
    return ((grid % WAV_AMP_MOD) - WAV_AMP_MOD // 2).astype("int16")


def attach_wav_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the audio path: one genuine RIFF/PCM16 WAV per
    document (pure-stdlib encoder, deterministic samples derived from
    the doc id) plus the audio metadata struct."""
    from event_streaming_service_spark.functions import wav_codec

    def encode(doc_id):
        n_frames, n_channels = _wav_shape(doc_id)
        return (wav_codec.encode_wav(_wav_samples(doc_id), WAV_SAMPLE_RATE),
                {"media_type": "audio", "codec": "pcm16",
                 "sample_rate": WAV_SAMPLE_RATE, "n_channels": n_channels,
                 "n_frames": n_frames})

    return _encode_each(docs, id_col, encode, AUDIO_METADATA)


WAV_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_frames bigint, "
    "duration_ms double, ch0_sum bigint, ch1_sum bigint, "
    "ch0_sumsq bigint, samp_min int, samp_max int, n_zero_cross bigint"
)


def extract_features_wav(media_df: DataFrame) -> DataFrame:
    """REAL audio feature extraction: parse the RIFF container, decode
    the PCM16 frames, and emit exact integer statistics — per-channel
    sums, channel-0 energy (sum of squares; RMS's radicand, kept as an
    exact integer instead of an engine-dependent sqrt), sample range,
    and channel-0 zero crossings (sign flips between consecutive
    frames). Stream shape (rate/channels/frames) comes from the DECODED
    header and data-chunk length, not the metadata struct, so a
    payload/metadata mismatch surfaces as a hash break. All numbers are
    reproduced arithmetically by the SQL oracle in
    query_defs/audio_queries.py."""
    from event_streaming_service_spark.functions import wav_codec

    def kernel(doc_id, payload):
        arr, rate = wav_codec.decode_wav(payload)
        n_frames, n_channels = arr.shape
        a64 = arr.astype("int64")
        ch0 = a64[:, 0]
        neg = ch0 < 0
        yield (doc_id, rate, n_channels, n_frames, n_frames * 1000.0 / rate,
               int(ch0.sum()),
               int(a64[:, 1].sum()) if n_channels > 1 else None,
               int((ch0 * ch0).sum()),
               int(arr.min()), int(arr.max()),
               int((neg[1:] != neg[:-1]).sum()))

    return _decode_each(media_df, WAV_FEATURE_SCHEMA, kernel)


WAV_RESAMPLE_SCHEMA = (
    "doc_id bigint, n_frames bigint, out_frames bigint, "
    "out_rate int, ch0_sum bigint, ch1_sum bigint, out_bytes int"
)


def resample_wav(media_df: DataFrame, target_rate: int = 4000) -> DataFrame:
    """REAL resample: decode, nearest-neighbor decimate to target_rate
    (integer index map src = (dst * n_frames) // out_frames — the same
    arithmetic the PNG resize and the SQL oracle use), re-encode, and
    emit the resampled channel sums plus re-encoded size. The
    decode→resample→encode chain exercises the codec both directions
    per row."""
    import numpy as np

    from event_streaming_service_spark.functions import wav_codec

    def kernel(doc_id, payload):
        arr, rate = wav_codec.decode_wav(payload)
        n_frames, n_channels = arr.shape
        out_n = max(1, (n_frames * target_rate) // rate)
        src = (np.arange(out_n, dtype="int64") * n_frames) // out_n
        small = arr[src]
        s64 = small.astype("int64")
        yield (doc_id, n_frames, out_n, target_rate,
               int(s64[:, 0].sum()),
               int(s64[:, 1].sum()) if n_channels > 1 else None,
               len(wav_codec.encode_wav(small, target_rate)))

    return _decode_each(media_df, WAV_RESAMPLE_SCHEMA, kernel)


# ---- APNG video (functions/apng_codec.py) ---------------------------

# Deterministic synthetic clip: pixel(x, y, c, f) =
#   (doc_id % 80) + (x % 32) + (y % 32) + 10*c + 8*f + 40*[f >= cut]
# with cut = n_frames // 2, n_frames = doc_id % 6 + 2 (max value
# 79+31+31+20+48+40 = 249, fits u8). The per-frame +8 drift gives
# every consecutive frame pair a nonzero pixel delta; the +40 jump at
# the midpoint plants exactly one scene cut per clip, so the cut
# detector has a ground truth an ANSI-SQL oracle reproduces.
APNG_PIXEL_BASE_MOD = 80
APNG_FRAME_STEP = 8
APNG_CUT_JUMP = 40


def _apng_shape(doc_id: int) -> tuple[int, int, int]:
    w, h = _png_dims(doc_id)
    return w, h, int(doc_id) % 6 + 2  # (w, h, n_frames)


def _apng_frames(doc_id: int) -> "np.ndarray":
    import numpy as np

    w, h, n = _apng_shape(doc_id)
    base = int(doc_id) % APNG_PIXEL_BASE_MOD
    xg = np.arange(w) % PNG_GRADIENT_MOD
    yg = np.arange(h) % PNG_GRADIENT_MOD
    plane = base + np.add.outer(yg, xg)                   # (h, w)
    chans = np.arange(3) * PNG_CHANNEL_STEP               # (3,)
    still = plane[:, :, None] + chans[None, None, :]      # (h, w, 3)
    fterm = np.arange(n) * APNG_FRAME_STEP \
        + APNG_CUT_JUMP * (np.arange(n) >= n // 2)        # (n,)
    return (still[None] + fterm[:, None, None, None]).astype("uint8")


def attach_apng_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the video path: one genuine APNG clip per
    document (pure-stdlib encoder, deterministic gradient frames with
    a planted mid-clip scene cut) plus the typed metadata struct."""
    from event_streaming_service_spark.functions import apng_codec

    def encode(doc_id):
        return (apng_codec.encode_apng(_apng_frames(doc_id)),
                _media("video", "apng", *_apng_shape(doc_id)))

    return _encode_each(docs, id_col, encode)


# per-frame rows of the APNG and MJPEG scene-cut kernels
APNG_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint, "
    "diff_sum bigint, is_cut boolean"
)


def video_frame_stats_apng(media_df: DataFrame,
                           cut_threshold: int = 20) -> DataFrame:
    """REAL video decode + per-frame statistics + scene-cut detection:
    decode the APNG (CRC-checked chunks, per-frame zlib streams, all
    five scanline filters), emit one row per frame with exact integer
    channel sums, the absolute pixel delta vs the previous frame, and
    a cut flag (mean abs delta > cut_threshold, computed in integers
    as diff_sum > threshold * w * h * 3). Dimensions and frame count
    come from the DECODED stream, not the metadata struct, so any
    payload/metadata mismatch breaks the hash.

    Scale: one clip = one kernel row = the unit of parallel work (the
    entropy stream is sequential); the per-frame explode happens on
    the tiny stats rows AFTER decode, never on pixels."""
    import numpy as np

    from event_streaming_service_spark.functions import apng_codec

    def kernel(doc_id, payload):
        fr = apng_codec.decode_apng(payload)
        n, h, w, _ = fr.shape
        sums = fr.reshape(n, -1, 3).sum(axis=1, dtype="int64")
        deltas = np.abs(
            fr[1:].astype("int64") - fr[:-1].astype("int64")
        ).reshape(n - 1, -1).sum(axis=1) if n > 1 else []
        lim = cut_threshold * w * h * 3
        for f in range(n):
            d = int(deltas[f - 1]) if f > 0 else 0
            yield (doc_id, f, w, h, int(sums[f, 0]), int(sums[f, 1]),
                   int(sums[f, 2]), d, d > lim)

    return _decode_each(media_df, APNG_FRAME_SCHEMA, kernel)


APNG_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint"
)


def sample_frames_apng(media_df: DataFrame, every_nth: int = 4) -> DataFrame:
    """REAL frame sampling: decode the clip, keep frames where
    idx % every_nth == 0, emit their exact channel sums. The filter
    runs INSIDE the kernel, so only sampled frames' statistics ever
    leave Python — the 100 TB shape for 'thumbnail every Nth frame'
    feature jobs (decode is unavoidable per clip because the entropy
    stream is sequential, but the output is pre-pruned)."""
    from event_streaming_service_spark.functions import apng_codec

    def kernel(doc_id, payload):
        fr = apng_codec.decode_apng(payload)
        n, h, w, _ = fr.shape
        keep = fr[::every_nth]
        sums = keep.reshape(len(keep), -1, 3).sum(axis=1, dtype="int64")
        for j, f in enumerate(range(0, n, every_nth)):
            yield (doc_id, f, w, h,
                   int(sums[j, 0]), int(sums[j, 1]), int(sums[j, 2]))

    return _decode_each(media_df, APNG_SAMPLE_SCHEMA, kernel)


# ----------------------------------------------------- jpeg (color)
# Deterministic synthetic COLOR JPEG: a grid of constant 16x16 tiles
# (one MCU each) colored from an 8-entry RGB palette,
#   idx(tx, ty) = (doc_id + 3*tx + 5*ty) % 8.
# Baseline YCbCr 4:2:0 is lossy on chroma, but for a constant MCU the
# whole pipeline collapses to scalar arithmetic: RGB -> rounded YCbCr
# -> DC-only quantize/dequantize (luma survives exactly because every
# palette Y is even; chroma drifts deterministically through the
# q=17 DC quantizer) -> IDCT -> rounded RGB. JPEG_COLOR_EXPECTED holds
# that chain's output per palette entry; palette members were chosen
# so no rounding in the chain sits within 1e-6 of a half-way boundary
# (and no chroma DC ≡ 4 mod 8, the one step where the float DCT's
# ~1e-13 residue could flip a floor(x+0.5)). tests/test_jpeg_codec
# asserts codec-vs-chain equality so these literals cannot rot.
JPEG_COLOR_PALETTE = (
    (220, 40, 40), (180, 60, 200), (40, 200, 200), (90, 90, 90),
    (210, 50, 50), (50, 190, 190), (100, 100, 100), (220, 220, 220))
JPEG_COLOR_EXPECTED = (
    (219, 41, 41), (181, 59, 202), (38, 200, 202), (90, 90, 90),
    (212, 50, 48), (50, 190, 189), (100, 100, 100), (220, 220, 220))


def _jpeg_color_dims(doc_id: int) -> tuple[int, int]:
    return (int(doc_id) % 4 + 1) * 16, (int(doc_id) % 3 + 1) * 16  # (w, h)


def _jpeg_color_tiles(doc_id: int) -> "np.ndarray":
    import numpy as np

    w, h = _jpeg_color_dims(doc_id)
    tx = np.arange(w // 16)
    ty = np.arange(h // 16)
    idx = (int(doc_id) + 3 * tx[None, :] + 5 * ty[:, None]) % 8
    pal = np.array(JPEG_COLOR_PALETTE, dtype=np.uint8)
    return pal[idx]          # (th, tw, 3)


def attach_jpeg_color_payload(docs: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the color JPEG path: one genuine baseline
    YCbCr 4:2:0 JPEG per document (palette-tiled MCUs)."""
    import numpy as np

    from event_streaming_service_spark.functions import jpeg_codec

    def encode(doc_id):
        tiles = _jpeg_color_tiles(doc_id)
        img = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)
        return (jpeg_codec.encode_jpeg_color(img),
                _media("image", "jpeg", *_jpeg_color_dims(doc_id)))

    return _encode_each(docs, id_col, encode)


JPEG_COLOR_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_tiles int, "
    "r_sum bigint, g_sum bigint, b_sum bigint, px_min int, px_max int"
)


def extract_features_jpeg_color(media_df: DataFrame) -> DataFrame:
    """REAL color JPEG feature extraction: full baseline 4:2:0 decode
    (two quant + four Huffman tables, MCU-interleaved entropy decode
    with per-component DC predictors, IDCT, chroma upsample, YCbCr ->
    RGB) and exact integer per-channel statistics. Dimensions come
    from the decoded SOF0 header."""
    from event_streaming_service_spark.functions import jpeg_codec

    def kernel(doc_id, payload):
        a = jpeg_codec.decode_jpeg_color(payload).astype("int64")
        h, w = a.shape[:2]
        yield (doc_id, w, h, (h // 16) * (w // 16),
               int(a[..., 0].sum()), int(a[..., 1].sum()),
               int(a[..., 2].sum()), int(a.min()), int(a.max()))

    return _decode_each(media_df, JPEG_COLOR_FEATURE_SCHEMA, kernel)


# ------------------------------------------------- video (AVI/MJPEG)
# Deterministic synthetic MJPEG clip: nf frames of palette-tiled
# constant MCUs (the color-JPEG device), static until the planted
# mid-clip scene cut at f >= nf // 2 where every tile's palette index
# jumps by +4 — so per-frame deltas are exactly 0 off the cut and
# large at it, and the oracle recomputes everything at TILE grain
# from JPEG_COLOR_EXPECTED literals (x256 per pixel).


def _mjpeg_shape(doc_id: int) -> tuple[int, int, int]:
    return ((int(doc_id) % 4 + 1) * 16, (int(doc_id) % 3 + 1) * 16,
            int(doc_id) % 3 + 2)  # (w, h, n_frames)


def _mjpeg_tiles(doc_id: int, f: int, nf: int) -> "np.ndarray":
    import numpy as np

    w, h, _ = _mjpeg_shape(doc_id)
    shift = 4 if f >= nf // 2 else 0
    tx = np.arange(w // 16)
    ty = np.arange(h // 16)
    idx = (int(doc_id) + 3 * tx[None, :] + 5 * ty[:, None] + shift) % 8
    pal = np.array(JPEG_COLOR_PALETTE, dtype=np.uint8)
    return pal[idx]


def attach_mjpeg_payload(docs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the general-video path: one genuine MJPG AVI
    per document — a RIFF container (functions/avi_codec.py) holding
    nf real baseline color JPEGs."""
    import numpy as np

    from event_streaming_service_spark.functions import (
        avi_codec,
        jpeg_codec,
    )

    def encode(doc_id):
        w, h, nf = _mjpeg_shape(doc_id)
        frames = [
            jpeg_codec.encode_jpeg_color(np.repeat(np.repeat(
                _mjpeg_tiles(doc_id, f, nf), 16, axis=0), 16, axis=1))
            for f in range(nf)]
        return (avi_codec.encode_avi_mjpeg(frames, w, h, fps=10),
                _media("video", "mjpeg", w, h, nf))

    return _encode_each(docs, id_col, encode)


def video_frame_stats_mjpeg(media_df: DataFrame,
                            cut_threshold: int = 10) -> DataFrame:
    """REAL general-video decode + per-frame statistics + scene-cut
    detection: parse the RIFF/AVI container, decode every MJPG frame
    through the full baseline color JPEG pipeline, and emit exact
    per-channel sums, the absolute pixel delta vs the previous frame,
    and the integer-threshold cut flag (diff_sum > threshold*w*h*3).
    Dimensions come from the avih header, cross-checked against every
    decoded frame."""
    import numpy as np

    from event_streaming_service_spark.functions import (
        avi_codec,
        jpeg_codec,
    )

    def kernel(doc_id, payload):
        avi = avi_codec.decode_avi_mjpeg(payload)
        w, h = avi["width"], avi["height"]
        prev = None
        for f, jp in enumerate(avi["frames"]):
            arr = jpeg_codec.decode_jpeg_color(jp).astype("int64")
            if arr.shape != (h, w, 3):
                raise ValueError(
                    f"AVI: frame {f} is {arr.shape[1]}x"
                    f"{arr.shape[0]}, header says {w}x{h}")
            diff = 0 if prev is None else int(np.abs(arr - prev).sum())
            yield (doc_id, f, w, h, int(arr[..., 0].sum()),
                   int(arr[..., 1].sum()), int(arr[..., 2].sum()),
                   diff, diff > cut_threshold * w * h * 3)
            prev = arr

    return _decode_each(media_df, APNG_FRAME_SCHEMA, kernel)


def attach_jpeg_progressive_payload(docs: DataFrame,
                                    id_col: str = "doc_id") -> DataFrame:
    """Fixture prep for the progressive-JPEG path: the SAME
    constant-tile image as attach_jpeg_payload, encoded as a genuine
    PROGRESSIVE (SOF2) stream — DC successive approximation, two
    spectral AC bands, AC+DC refinement scans, per-scan Huffman
    tables. The feature oracle is therefore shared with the baseline
    query; only the entropy-layer protocol under test differs."""
    import numpy as np

    from event_streaming_service_spark.functions import jpeg_codec

    def encode(doc_id):
        img = np.kron(_jpeg_tiles(doc_id), np.ones((8, 8), dtype="uint8"))
        return (jpeg_codec.encode_jpeg_progressive(img),
                _media("image", "jpeg-progressive", *_jpeg_dims(doc_id)))

    return _encode_each(docs, id_col, encode)


def extract_features_jpeg_progressive(media_df: DataFrame) -> DataFrame:
    """REAL progressive-JPEG feature extraction: the full multi-scan
    decode (DC first/refine, AC spectral bands with EOBn runs, AC
    refinement correction bits) then exact integer pixel stats —
    same output schema as extract_features_jpeg."""
    from event_streaming_service_spark.functions import jpeg_codec

    def kernel(doc_id, payload):
        arr = jpeg_codec.decode_jpeg_progressive(payload)
        h, w = arr.shape
        yield (doc_id, w, h, (h // 8) * (w // 8),
               int(arr.astype("int64").sum()), int(arr.min()), int(arr.max()))

    return _decode_each(media_df, JPEG_FEATURE_SCHEMA, kernel)


def attach_jpeg_progressive_color_payload(
        docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixture prep: the SAME palette-tiled MCU images as
    attach_jpeg_color_payload, encoded as genuine PROGRESSIVE color
    streams (interleaved DC scans, per-component spectral AC bands,
    refinement passes). Shares the color feature oracle."""
    import numpy as np

    from event_streaming_service_spark.functions import jpeg_codec

    def encode(doc_id):
        tiles = _jpeg_color_tiles(doc_id)
        img = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)
        return (jpeg_codec.encode_jpeg_progressive_color(img),
                _media("image", "jpeg-progressive",
                       *_jpeg_color_dims(doc_id)))

    return _encode_each(docs, id_col, encode)


def extract_features_jpeg_progressive_color(
        media_df: DataFrame) -> DataFrame:
    """REAL progressive color decode (interleaved DC + per-component
    AC scans + refinement + upsample + color conversion) and exact
    per-channel stats — same schema as extract_features_jpeg_color."""
    from event_streaming_service_spark.functions import jpeg_codec

    def kernel(doc_id, payload):
        a = jpeg_codec.decode_jpeg_progressive_color(payload).astype("int64")
        h, w = a.shape[:2]
        yield (doc_id, w, h, (h // 16) * (w // 16),
               int(a[..., 0].sum()), int(a[..., 1].sum()),
               int(a[..., 2].sum()), int(a.min()), int(a.max()))

    return _decode_each(media_df, JPEG_COLOR_FEATURE_SCHEMA, kernel)


# ------------------------------------------------------ gif (LZW)

# Deterministic synthetic palette image (functions/gif_codec.py):
#   index(x, y)   = (doc_id + x + 3*y) % n_colors
#   palette(i)    = ((37*i + doc_id) % 256,
#                    (59*i + 2*doc_id) % 256,
#                    (83*i + 3*doc_id) % 256)
# with n_colors = doc_id % 11 + 5 (5..15 — deliberately spanning
# non-power-of-2 table sizes so the padded color table and the LZW
# min-code-size floor both get exercised). Every term is integer
# arithmetic an ANSI-SQL oracle reproduces exactly. Animated clips
# add a per-frame rotation: index(x, y, f) = (doc_id + x + 3*y + 7*f)
# % n_colors, so consecutive frames are cyclic palette shifts with
# exactly reproducible per-frame deltas.
GIF_IDX_X_STEP = 1
GIF_IDX_Y_STEP = 3
GIF_IDX_F_STEP = 7
GIF_PAL_STEPS = (37, 59, 83)


def _gif_shape(doc_id: int) -> tuple[int, int, int, int]:
    d = int(doc_id)
    return d % 40 + 12, d % 28 + 12, d % 11 + 5, d % 4 + 2
    # (w, h, n_colors, n_frames)


def _gif_palette(doc_id: int, n_colors: int) -> "np.ndarray":
    import numpy as np

    i = np.arange(n_colors, dtype=np.int64)
    cols = [(step * i + (c + 1) * int(doc_id)) % 256
            for c, step in enumerate(GIF_PAL_STEPS)]
    return np.stack(cols, axis=1).astype("uint8")


def _gif_frames(doc_id: int) -> tuple["np.ndarray", "np.ndarray"]:
    import numpy as np

    w, h, nc, nf = _gif_shape(doc_id)
    xg = np.arange(w) * GIF_IDX_X_STEP
    yg = np.arange(h) * GIF_IDX_Y_STEP
    plane = int(doc_id) + np.add.outer(yg, xg)            # (h, w)
    fterm = np.arange(nf) * GIF_IDX_F_STEP                # (nf,)
    idx = (plane[None] + fterm[:, None, None]) % nc
    return idx.astype("uint8"), _gif_palette(doc_id, nc)


def attach_gif_payload(docs: DataFrame, id_col: str = "doc_id",
                       animated: bool = False) -> DataFrame:
    """Fixture prep for the LZW decode path: one genuine GIF per
    document (pure-stdlib encoder — variable-width LZW, sub-block
    framing, padded global color table), single-frame by default or a
    cyclic-palette-shift animation with `animated`."""
    from event_streaming_service_spark.functions import gif_codec

    def encode(doc_id):
        w, h, _nc, nf = _gif_shape(doc_id)
        frames, pal = _gif_frames(doc_id)
        if not animated:
            frames, nf = frames[:1], 1
        return (gif_codec.encode_gif(frames, pal),
                _media("video" if animated else "image", "gif", w, h, nf))

    return _encode_each(docs, id_col, encode)


GIF_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_colors_used int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint"
)


def extract_features_gif(media_df: DataFrame) -> DataFrame:
    """REAL palette-image decode + feature extraction: run the LZW
    decoder (variable code widths, CLEAR resets, KwKwK) over the
    payload, map indices through the decoded color table, and emit
    exact per-channel integer sums plus the distinct-color count.
    Dimensions come from the DECODED screen descriptor, not the
    metadata struct, so a payload/metadata mismatch breaks the hash."""
    import numpy as np

    from event_streaming_service_spark.functions import gif_codec

    def kernel(doc_id, payload):
        frames, pal = gif_codec.decode_gif(payload)
        idx = frames[0]
        h, w = idx.shape
        sums = pal[idx].astype("int64").reshape(-1, 3).sum(axis=0)
        yield (doc_id, w, h, int(len(np.unique(idx))),
               int(sums[0]), int(sums[1]), int(sums[2]))

    return _decode_each(media_df, GIF_FEATURE_SCHEMA, kernel)


GIF_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint, diff_sum bigint"
)


def video_frame_stats_gif(media_df: DataFrame) -> DataFrame:
    """Animated-GIF decode + per-frame statistics: one row per frame
    with exact channel sums (indices mapped through the color table)
    and the absolute RGB delta vs the previous frame. Same kernel
    shape as video_frame_stats_apng — the clip is the unit of
    parallel work, only tiny stats rows leave Python."""
    import numpy as np

    from event_streaming_service_spark.functions import gif_codec

    def kernel(doc_id, payload):
        frames, pal = gif_codec.decode_gif(payload)
        rgb = pal[frames].astype("int64")     # (nf, h, w, 3)
        nf, h, w, _ = rgb.shape
        sums = rgb.reshape(nf, -1, 3).sum(axis=1)
        deltas = np.abs(rgb[1:] - rgb[:-1]) \
            .reshape(nf - 1, -1).sum(axis=1) if nf > 1 else []
        for f in range(nf):
            yield (doc_id, f, w, h,
                   int(sums[f, 0]), int(sums[f, 1]), int(sums[f, 2]),
                   int(deltas[f - 1]) if f > 0 else 0)

    return _decode_each(media_df, GIF_FRAME_SCHEMA, kernel)


GIF_RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, target_w int, target_h int, "
    "ch0_sum bigint, ch1_sum bigint, ch2_sum bigint, out_bytes int"
)


def resize_gif(media_df: DataFrame, target_w: int, target_h: int
               ) -> DataFrame:
    """REAL palette-image resample: decode the GIF, nearest-neighbor
    resize the INDEX grid (palette images resample indices, never
    interpolated RGB — interpolating palette entries invents colors
    outside the table), re-encode through the LZW encoder, and emit
    the resized channel sums + re-encoded size. The index map is the
    integer src = (dst * size) // target the SQL oracle reproduces;
    out_bytes (LZW output length) rides along but is not
    SQL-expressible."""
    from event_streaming_service_spark.functions import gif_codec
    from event_streaming_service_spark.functions.png_codec import (
        resize_nearest)

    def kernel(doc_id, payload):
        frames, pal = gif_codec.decode_gif(payload)
        h, w = frames[0].shape
        # index grid as (H, W, 1) rides the shared nearest-neighbor
        # index math from the PNG codec
        small = resize_nearest(
            frames[0][:, :, None], target_w, target_h)[:, :, 0]
        sums = pal[small].astype("int64").reshape(-1, 3).sum(axis=0)
        yield (doc_id, w, h, target_w, target_h,
               int(sums[0]), int(sums[1]), int(sums[2]),
               len(gif_codec.encode_gif(small, pal)))

    return _decode_each(media_df, GIF_RESIZE_SCHEMA, kernel)


def image_text_dup_pairs(media_df: DataFrame, docs: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         n: int = 3) -> DataFrame:
    """CLIP-style multimodal pair curation — the cross-modal dedup
    composition (an image-text corpus dedups on BOTH arms: byte-level
    text hashing misses re-encoded images, dHash misses rewritten
    captions; the pair table of image-identical docs scored by text
    overlap is what a curation pipeline ranks and prunes): documents
    whose REAL-decoded PNGs collapse to the same (dhash, width,
    height) perceptual key pair up (doc_a < doc_b), and each pair
    carries its exact text-shingle Jaccard (truncating ppm, the
    jaccard_pairs device) plus a byte-exact same_text flag.

    High jaccard_ppm = full dup (drop one); low jaccard_ppm with the
    same image = caption divergence — the rows a contrastive-training
    curation keeps exactly one of, chosen by text quality.

    Scale shape: the dHash frame is one row per image (the decode
    kernel runs once — persisted, it feeds both sides of the group
    self-join); the pair fan-out is bounded by perceptual-group size
    exactly as LSH bucket size bounds MinHash candidates (true
    near-identical image families; an exact_canonical-style cap
    applies if a degenerate corpus floods one key); the text verify
    joins the persisted per-doc shingle arrays on candidate pairs
    ONLY — never a corpus-wide text join."""
    from event_streaming_service_spark.operators.dedup import shingle_sets

    fp = (image_dhash_png(media_df)
          .select("dhash", "width", "height", id_col)
          .persist())
    a = fp.select("dhash", "width", "height",
                  F.col(id_col).alias("doc_a"))
    b = fp.select("dhash", "width", "height",
                  F.col(id_col).alias("doc_b"))
    pairs = (a.join(b, ["dhash", "width", "height"])
             .filter(F.col("doc_a") < F.col("doc_b")))
    arrs = (shingle_sets(docs, id_col, text_col, n)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("shingle"))
                 .alias("__set"),
                 F.count(F.lit(1)).cast("bigint").alias("__n"))
            .persist())
    md = docs.select(F.col(id_col), F.md5(F.col(text_col))
                     .alias("__md5"))
    out = (pairs
           .join(arrs.select(F.col(id_col).alias("doc_a"),
                             F.col("__set").alias("__sa"),
                             F.col("__n").alias("__na")),
                 "doc_a", "left")
           .join(arrs.select(F.col(id_col).alias("doc_b"),
                             F.col("__set").alias("__sb"),
                             F.col("__n").alias("__nb")),
                 "doc_b", "left")
           .join(md.select(F.col(id_col).alias("doc_a"),
                           F.col("__md5").alias("__ma")), "doc_a")
           .join(md.select(F.col(id_col).alias("doc_b"),
                           F.col("__md5").alias("__mb")), "doc_b")
           .withColumn("inter",
                       F.coalesce(
                           F.size(F.array_intersect("__sa", "__sb"))
                           .cast("bigint"), F.lit(0).cast("bigint")))
           .withColumn("size_a",
                       F.coalesce("__na", F.lit(0).cast("bigint")))
           .withColumn("size_b",
                       F.coalesce("__nb", F.lit(0).cast("bigint"))))
    return out.select(
        "dhash", "width", "height", "doc_a", "doc_b",
        "inter", "size_a", "size_b",
        F.expr("CAST(inter * 1000000"
               " DIV GREATEST(size_a + size_b - inter, 1)"
               " AS BIGINT)").alias("jaccard_ppm"),
        (F.col("__ma") == F.col("__mb")).alias("same_text"))
