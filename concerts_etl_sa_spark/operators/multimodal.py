"""Multimodal binary columns (SURVEY §2.L4).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata structs, the way a 100 TB training-data lake stores them. The
Spark-side plumbing — schema, Arrow batch shape, mapInPandas signature,
partition sizing — is real and tested. Decode is layered: a pure-Python
netpbm PGM (P5) codec ships in-repo (REAL parse/resample/re-encode, no
dependencies — see the PGM section), PIL/soundfile decoders are
import-gated for deployments that have them, and payloads no available
decoder parses fall back to ``_decode_stub``'s deterministic fake
(clearly marked via the ``decoder`` provenance column). The default
raw-utf-8 fixture exercises the stub path; ``media_table_pgm``
exercises the real one.

Derivation: payloads are synthesized from ``documents.text`` (utf-8 bytes)
so the oracle can verify the plumbing end-to-end: byte length and md5 of
the payload are computable from the text in DuckDB.

Scale notes: mapInPandas streams Arrow batches — decode cost is linear per
partition with zero shuffle; `spark.sql.files.maxPartitionBytes` bounds the
per-task byte volume so decoded frames fit executor memory. Feature
extraction that needs a shuffle (e.g. per-label stats) happens AFTER the
narrow decode stage on the (small) feature columns, never on raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import load_table
from .util import sorted_small

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "media_meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType()),
                    T.StructField("codec", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("feature_dim", T.IntegerType()),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the binary media table from documents (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    kind = F.when(F.col("doc_id") % 3 == 0, "image").when(
        F.col("doc_id") % 3 == 1, "audio"
    ).otherwise("video")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            kind.alias("kind"),
            F.lit("raw").alias("codec"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def _decode_stub(payload: bytes, kind: str) -> dict:
    """STUB: real deployments decode here (PIL/torchaudio/ffmpeg are not in
    this container). Deterministic fake keeps the pipeline testable: the
    'feature' is the md5 digest + a kind-dependent dimensionality."""
    import hashlib

    dim = {"image": 2048, "audio": 512, "video": 4096}.get(kind, 0)
    return {
        "payload_md5": hashlib.md5(payload).hexdigest(),
        "feature_dim": dim,
    }


# ---------------------------------------- real minimal codec: netpbm PGM
#
# The default synthetic payloads are raw utf-8 text (codec='raw') — there
# is genuinely nothing to decode in them, which kept the decode slot a
# stub. The PGM (P5) fixture closes that honestly WITHOUT new
# dependencies: netpbm's binary graymap is a real published image format
# with a pure-Python parse, so the decode -> resample -> re-encode path
# below computes from actual parsed bytes. Pixels are a closed-form
# function of (doc_id, index) so the DuckDB oracle can recompute the
# resized payload independently — parity then proves the decoder decodes.


def _pgm_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-row source dimensions (8-15 x 8-12)."""
    return 8 + doc_id % 8, 8 + doc_id % 5


def _pgm_pixel(doc_id: int, idx: int) -> int:
    return (doc_id * 31 + idx) % 256


def pgm_encode(w: int, h: int, pixels: bytes) -> bytes:
    """Binary PGM (P5), canonical single-space header, maxval 255."""
    if len(pixels) != w * h:
        raise ValueError(f"PGM pixel buffer {len(pixels)} != {w}x{h}")
    return b"P5\n%d %d\n255\n" % (w, h) + pixels


def pgm_decode(payload: bytes) -> tuple[int, int, bytes]:
    """REAL parse of a binary PGM: magic, whitespace-separated header
    ints (with '#' comment lines per the spec), exactly one whitespace
    byte after maxval, then w*h raster bytes. Raises on anything else —
    decode_media's per-row guard turns that into stub fields (K3)."""
    b = bytes(payload)
    if b[:2] != b"P5":
        raise ValueError("not a binary PGM (P5) payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and b[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PGM header")
        vals.append(int(b[start:pos]))
    w, h, maxval = vals
    if w <= 0 or h <= 0:
        # Netpbm requires positive dimensions; a 0-dim payload would
        # "decode" to an empty raster and crash the resize path with an
        # IndexError instead of the per-row-catchable ValueError
        raise ValueError("non-positive PGM dimensions")
    if maxval > 255:
        raise ValueError("16-bit PGM unsupported")
    # exactly ONE whitespace byte separates maxval from the raster; a
    # non-whitespace byte here (e.g. a trailing comment) would silently
    # shift every raster offset if we just skipped it — raise instead
    if not b[pos : pos + 1].isspace():
        raise ValueError("malformed PGM header: no raster separator")
    pos += 1
    pixels = b[pos : pos + w * h]
    if len(pixels) != w * h:
        raise ValueError("truncated PGM raster")
    return w, h, pixels


def pgm_resize_nn(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Decode -> nearest-neighbor resample -> re-encode. All three steps
    operate on the parsed raster, not on any side-channel metadata."""
    w, h, px = pgm_decode(payload)
    out = bytes(
        px[(ty * h // target_h) * w + (tx * w // target_w)]
        for ty in range(target_h)
        for tx in range(target_w)
    )
    return pgm_encode(target_w, target_h, out)


def _load_real_decoders() -> dict:
    """Import-gated real decoders (mirrors functions/dates.py's dateparser
    gate): a deployment that ships PIL / soundfile gets real media decode
    with no code changes; this container falls back to the stub. Probed
    once at import — never inside the Arrow batch loop."""
    decoders: dict = {}
    try:  # pragma: no cover - exercised only where Pillow is installed
        import io

        from PIL import Image

        def _decode_image(payload: bytes) -> dict:
            im = Image.open(io.BytesIO(payload))
            im.load()
            return {
                "width": im.width,
                "height": im.height,
                "channels": len(im.getbands()),
                "decoder": "pillow",
            }

        decoders["image"] = _decode_image
    except Exception:
        pass
    try:  # pragma: no cover - exercised only where soundfile is installed
        import io

        import soundfile as _sf

        def _decode_audio(payload: bytes) -> dict:
            with _sf.SoundFile(io.BytesIO(payload)) as f:
                return {
                    "sample_rate": int(f.samplerate),
                    "channels": int(f.channels),
                    "duration_s": float(len(f)) / float(f.samplerate),
                    "decoder": "soundfile",
                }

        decoders["audio"] = _decode_audio
    except Exception:
        pass
    if "image" not in decoders:
        # pure-Python PGM decode — always available, so image payloads
        # that actually parse as P5 get REAL width/height/channels even
        # in containers without Pillow; non-PGM bytes raise and keep the
        # stub fields (the raw-text fixture stays stub-decoded)
        def _decode_image_pgm(payload: bytes) -> dict:
            w, h, _ = pgm_decode(payload)
            return {"width": w, "height": h, "channels": 1, "decoder": "pgm"}

        decoders["image"] = _decode_image_pgm
    return decoders


REAL_DECODERS = _load_real_decoders()

_DECODED_FIELDS = (
    "width", "height", "channels", "sample_rate", "duration_s"
)


def decode_media(payload: bytes, kind: str) -> dict:
    """Real decode when a gated decoder exists for ``kind`` (and the bytes
    actually parse), stub otherwise. Always returns the stub's
    deterministic fields plus nullable real-decode fields + ``decoder``
    provenance, so the output schema is environment-independent."""
    out = {f: None for f in _DECODED_FIELDS}
    out.update(_decode_stub(payload, kind))
    out["decoder"] = "stub"
    real = REAL_DECODERS.get(kind)
    if real is not None:
        try:
            out.update(real(bytes(payload)))
        except Exception:
            pass  # undecodable bytes -> keep stub fields (K3 row isolation)
    return out


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("feature_dim", T.IntegerType()),
        T.StructField("decoder", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def extract_decoded(media: DataFrame) -> DataFrame:
    """mapInPandas decode with the import-gated real path. Environment-
    independent schema: real fields are null (decoder='stub') where the
    libs are absent or the bytes don't parse."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                decode_media(p, k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "payload_md5": [r["payload_md5"] for r in rows],
                    "feature_dim": pd.array(
                        [r["feature_dim"] for r in rows], dtype="int32"
                    ),
                    "decoder": [r["decoder"] for r in rows],
                    "width": pd.array([r["width"] for r in rows], dtype="Int32"),
                    "height": pd.array([r["height"] for r in rows], dtype="Int32"),
                    "channels": pd.array(
                        [r["channels"] for r in rows], dtype="Int32"
                    ),
                    "sample_rate": pd.array(
                        [r["sample_rate"] for r in rows], dtype="Int32"
                    ),
                    "duration_s": pd.array(
                        [r["duration_s"] for r in rows], dtype="Float64"
                    ),
                }
            )

    flat = media.select(
        "doc_id", "payload", F.col("media_meta.kind").alias("kind")
    )
    return flat.mapInPandas(batches, DECODED_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    The pandas UDF boundary is exactly where a real decoder plugs in; batch
    shape is (doc_id, payload, kind) in / FEATURE_SCHEMA out.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_stub(p, k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "payload_md5": [f["payload_md5"] for f in feats],
                    "feature_dim": pd.array(
                        [f["feature_dim"] for f in feats], dtype="int32"
                    ),
                }
            )

    flat = media.select(
        "doc_id",
        "payload",
        F.col("media_meta.kind").alias("kind"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )
    return flat.mapInPandas(batches, FEATURE_SCHEMA)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: synthesize media table -> mapInPandas feature extract."""
    return extract_features(media_table(spark, sf_dir))


# Oracle: the stub features are computable straight from documents.text
MEDIA_FEATURES_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS payload_md5,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 2048
            WHEN doc_id % 3 = 1 THEN 512
            ELSE 4096 END AS INT) AS feature_dim
FROM documents
ORDER BY doc_id
"""


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("target_w", T.IntegerType()),
        T.StructField("target_h", T.IntegerType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_md5", T.StringType()),
    ]
)


def resize_media(
    media: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Resize stub over mapInPandas (SURVEY §2.L4 'resize').

    A real implementation decodes, resamples to (target_w, target_h) and
    re-encodes inside the pandas batch (PIL/ffmpeg — not in this
    container). The deterministic stand-in truncates the decoded payload
    to target_w*target_h units (characters, since the synthetic payload
    is utf-8 text — unicode-safe so the DuckDB oracle can reproduce it),
    which preserves everything the Spark layer is responsible for: batch
    signature, output schema, size accounting, and that bytes never
    cross a shuffle.
    """
    import hashlib

    cap = target_w * target_h

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [
                bytes(p).decode("utf-8")[:cap].encode("utf-8")
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "target_w": pd.array([target_w] * len(pdf), dtype="int32"),
                    "target_h": pd.array([target_h] * len(pdf), dtype="int32"),
                    "resized_bytes": [len(r) for r in resized],
                    "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    flat = media.select(
        "doc_id", "payload", F.col("media_meta.kind").alias("kind")
    )
    return flat.mapInPandas(batches, RESIZE_SCHEMA)


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end resize query: media table -> mapInPandas resize."""
    return resize_media(media_table(spark, sf_dir))


# Oracle: the truncation stub is computable from documents.text directly
MEDIA_RESIZE_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CAST(224 AS INT) AS target_w,
  CAST(224 AS INT) AS target_h,
  CAST(octet_length(encode(substr(text, 1, 224 * 224))) AS BIGINT)
    AS resized_bytes,
  md5(substr(text, 1, 224 * 224)) AS resized_md5
FROM documents
ORDER BY doc_id
"""


def frame_sample(spark: SparkSession, sf_dir: str, every: int = 7) -> DataFrame:
    """Frame-sampling analog: deterministic every-Nth-byte subsample of the
    payload, exposed as an array column (the shape of video frame sampling;
    the sampler is real, the frame decode is the stub above)."""
    m = media_table(spark, sf_dir)
    n = F.col("media_meta.n_bytes")
    idx = F.sequence(F.lit(1), F.greatest((n / every).cast("int"), F.lit(1)))
    return m.select(
        "doc_id",
        F.transform(
            idx, lambda i: F.substring(F.col("payload").cast("string"), (i - 1) * every + 1, 1)
        ).alias("sampled_bytes"),
        F.size(
            F.transform(idx, lambda i: i)
        ).alias("n_samples"),
    ).select(
        "doc_id",
        F.concat_ws("", "sampled_bytes").alias("sample_sig"),
        "n_samples",
    )


FRAME_SAMPLE_SQL = """
SELECT doc_id,
  coalesce(list_aggregate(
    list_transform(
      generate_series(1, greatest(CAST(floor(len(text) / 7) AS INT), 1)),
      i -> substr(text, (i - 1) * 7 + 1, 1)
    ), 'string_agg', ''), '') AS sample_sig,
  greatest(CAST(floor(len(text) / 7) AS INT), 1) AS n_samples
FROM documents
ORDER BY doc_id
"""


def media_table_pgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table whose payloads are REAL binary PGM
    images (one per document id; dims and raster from the closed forms
    above). Built in a mapInPandas stage — the fixture generator is the
    only place the closed form runs Spark-side; every consumer decodes
    the actual bytes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                w, h = _pgm_dims(i)
                payloads.append(
                    pgm_encode(
                        w, h, bytes(_pgm_pixel(i, j) for j in range(w * h))
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    flat = d.mapInPandas(batches, "doc_id BIGINT, payload BINARY")
    return flat.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("pgm").alias("codec"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


PGM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def extract_pgm_features(media: DataFrame) -> DataFrame:
    """REAL-codec feature extraction (round-10 #3 — the in-window l4
    row previously exercised only the stub decode): every field here
    comes out of :func:`pgm_decode`'s parsed header and raster — width/
    height from the header ints, mean intensity from the raster bytes —
    never from side-channel metadata or the closed-form generator. The
    DuckDB twin recomputes the expected values arithmetically from the
    fixture's closed form WITHOUT decoding, so parity proves the decoder
    actually decodes (same device as MEDIA_RESIZE_DECODED_SQL).
    mapInPandas keeps the binary payloads inside one Arrow-batched
    stage: bytes never cross a shuffle, features (a few scalars per doc)
    are what moves."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in it:
            rows = []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                w, h, px = pgm_decode(b)
                # half-AWAY rounding (floor(x*1e6 + 0.5)/1e6, x >= 0
                # here), matching the DuckDB twin's SQL round()
                # convention BY CONSTRUCTION — Python round() is
                # half-to-even, and while the current fixture admits no
                # exact 6-dp half tie (w*h would need 2-adic valuation
                # 7), parity should not be fixture-dependent
                # (round-10 advisory).
                mean = sum(px) / float(len(px))
                rows.append(
                    (
                        int(i), w, h, 1, len(b),
                        math.floor(mean * 1e6 + 0.5) / 1e6,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels", "n_bytes",
                    "mean_intensity",
                ],
            ).astype(
                {"width": "int32", "height": "int32", "channels": "int32"}
            )

    return media.select("doc_id", "payload").mapInPandas(
        batches, PGM_FEATURES_SCHEMA
    )


def media_features_pgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real-codec features: PGM table -> parse -> stats."""
    return extract_pgm_features(media_table_pgm(spark, sf_dir))


def _media_features_pgm_sql() -> str:
    # header 'P5\n{w} {h}\n255\n' + w*h raster bytes; pixel value
    # (doc_id*31 + idx) % 256 — all arithmetic, no decoding, so a match
    # proves the Spark side parsed the actual bytes
    w = "(8 + doc_id % 8)"
    h = "(8 + doc_id % 5)"
    return f"""
SELECT doc_id,
  CAST({w} AS INT) AS width,
  CAST({h} AS INT) AS height,
  CAST(1 AS INT) AS channels,
  CAST(octet_length(encode('P5' || chr(10) || CAST({w} AS VARCHAR) || ' '
                    || CAST({h} AS VARCHAR) || chr(10) || '255' || chr(10)))
       + {w} * {h} AS BIGINT) AS n_bytes,
  round(list_aggregate(
    list_transform(generate_series(0, {w} * {h} - 1),
                   j -> CAST((doc_id * 31 + j) % 256 AS DOUBLE)),
    'avg'), 6) AS mean_intensity
FROM documents
ORDER BY doc_id
"""


MEDIA_FEATURES_PGM_SQL = _media_features_pgm_sql()


RESIZE_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("target_w", T.IntegerType()),
        T.StructField("target_h", T.IntegerType()),
        T.StructField("resized_n_bytes", T.LongType()),
        T.StructField("resized_hex_md5", T.StringType()),
    ]
)

RESIZE_DECODED_W = 6
RESIZE_DECODED_H = 6


def resize_media_decoded(
    media: DataFrame,
    target_w: int = RESIZE_DECODED_W,
    target_h: int = RESIZE_DECODED_H,
) -> DataFrame:
    """DECODED resize (SURVEY §2.L4 'resize', real-codec form): each
    payload is parsed with :func:`pgm_decode`, nearest-neighbor
    resampled, re-encoded, and fingerprinted. Nothing here consults the
    closed-form pixel function — src dims come out of the parsed header
    and resampled bytes out of the parsed raster, which is exactly what
    the oracle parity proves (it recomputes the resized payload
    independently from the closed form). The fingerprint is the md5 of
    the lowercase HEX of the payload (DuckDB's md5 is VARCHAR-only;
    hex is a bijection, so this is a faithful content hash)."""
    import binascii
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _ = pgm_decode(bytes(p))
                out = pgm_resize_nn(bytes(p), target_w, target_h)
                rows.append(
                    (
                        int(i), w, h, target_w, target_h, len(out),
                        hashlib.md5(binascii.hexlify(out)).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "target_w", "target_h",
                    "resized_n_bytes", "resized_hex_md5",
                ],
            ).astype(
                {
                    "src_w": "int32", "src_h": "int32",
                    "target_w": "int32", "target_h": "int32",
                }
            )

    flat = media.select("doc_id", "payload")
    return flat.mapInPandas(batches, RESIZE_DECODED_SCHEMA)


def media_resize_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real-codec resize: PGM table -> decode -> resample."""
    return resize_media_decoded(media_table_pgm(spark, sf_dir))


def _media_resize_decoded_sql() -> str:
    tw, th = RESIZE_DECODED_W, RESIZE_DECODED_H
    header = b"P5\n%d %d\n255\n" % (tw, th)
    n_bytes = len(header) + tw * th
    # src pixel index for flattened target index j:
    #   src_y*w + src_x with src_y = (j // tw) * h // th,
    #   src_x = (j % tw) * w // tw; pixel value = (doc_id*31 + idx) % 256
    w = "(8 + doc_id % 8)"
    h = "(8 + doc_id % 5)"
    idx = f"(((j // {tw}) * {h} // {th}) * {w} + ((j % {tw}) * {w} // {tw}))"
    return f"""
SELECT doc_id,
  CAST({w} AS INT) AS src_w,
  CAST({h} AS INT) AS src_h,
  CAST({tw} AS INT) AS target_w,
  CAST({th} AS INT) AS target_h,
  CAST({n_bytes} AS BIGINT) AS resized_n_bytes,
  md5(
    lower(to_hex(encode('P5' || chr(10) || '{tw} {th}' || chr(10)
                        || '255' || chr(10))))
    || list_aggregate(
         list_transform(
           generate_series(0, {tw * th - 1}),
           j -> lpad(lower(to_hex((doc_id * 31 + {idx}) % 256)), 2, '0')
         ), 'string_agg', '')
  ) AS resized_hex_md5
FROM documents
ORDER BY doc_id
"""


MEDIA_RESIZE_DECODED_SQL = _media_resize_decoded_sql()


# ------------------------------------------------- media embedding + dedup

EMBED_DIM = 16

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("model_embedding", T.ArrayType(T.FloatType())),
        T.StructField("embed_model", T.StringType()),
    ]
)


def _probe_embed_backend():
    """Import-gated real embedding model at the CLIP/CLAP slot (mirrors
    ``_load_real_decoders``): returns ``(backend_name, factory)`` or
    ``None``. The probe only checks AVAILABILITY at import; ``factory()``
    — which loads model weights — runs lazily ONCE PER EXECUTOR PROCESS
    inside the pandas batch loop. Loading at import would serialize the
    weights into every task closure; loading per batch would reload them
    thousands of times.

    Backends, first match wins:
    - ``SPARK_GRAFT_EMBED_FACTORY=module:callable`` — deployment hook
      (an ONNX session wrapper, a custom tower). The callable takes no
      args and returns ``embed(payloads, kinds) -> list[list[float]]``.
    - ``sentence-transformers`` (e.g. a CLIP checkpoint named by
      ``SPARK_GRAFT_EMBED_MODEL``): images decode via PIL when possible,
      anything else embeds as utf-8 text.
    """
    import importlib
    import os

    spec = os.environ.get("SPARK_GRAFT_EMBED_FACTORY")
    if spec and ":" in spec:
        mod_name, _, fn_name = spec.partition(":")
        try:  # availability probe only — import the module, not the model
            getattr(importlib.import_module(mod_name), fn_name)
        except Exception:
            pass
        else:

            def entry_factory(spec=spec):
                mod_name, _, fn_name = spec.partition(":")
                mod = importlib.import_module(mod_name)
                return getattr(mod, fn_name)()

            return (f"factory:{spec}", entry_factory)
    try:  # pragma: no cover - exercised only where the lib is installed
        import sentence_transformers  # noqa: F401

        def st_factory():
            import io

            from sentence_transformers import SentenceTransformer

            name = os.environ.get("SPARK_GRAFT_EMBED_MODEL", "clip-ViT-B-32")
            model = SentenceTransformer(name)

            def embed(payloads, kinds):
                inputs = []
                for p, k in zip(payloads, kinds):
                    if k == "image":
                        try:
                            from PIL import Image

                            inputs.append(Image.open(io.BytesIO(bytes(p))))
                            continue
                        except Exception:
                            pass
                    inputs.append(bytes(p).decode("utf-8", errors="replace"))
                return [list(map(float, v)) for v in model.encode(inputs)]

            return embed

        return ("sentence-transformers", st_factory)
    except Exception:
        pass
    return None


EMBED_BACKEND = _probe_embed_backend()

# per-process memo: (name, embed_fn|None); False = not yet initialized
_WORKER_EMBEDDER: tuple | bool = False


def _worker_embedder() -> tuple:
    """(backend_name, embed_fn|None), instantiating the backend at most
    once per python worker process. A factory that fails to build (model
    file missing on the executor image) degrades to the stub-only path
    for the life of the process instead of failing the job (K2)."""
    global _WORKER_EMBEDDER
    if _WORKER_EMBEDDER is False:
        if EMBED_BACKEND is None:
            _WORKER_EMBEDDER = ("stub", None)
        else:
            name, factory = EMBED_BACKEND
            try:
                _WORKER_EMBEDDER = (name, factory())
            except Exception:
                _WORKER_EMBEDDER = ("stub", None)
    return _WORKER_EMBEDDER


def embed_media(media: DataFrame) -> DataFrame:
    """Embedding extraction at the CLIP/CLAP slot.

    Always emits the deterministic STUB column ``embedding`` (md5-derived
    pseudo-vector in [-1, 1]) — the column the oracle rows and the
    downstream near-dup contract are pinned to — plus the import-gated
    real-model columns: ``model_embedding`` (null when no backend is
    installed or the batch fails to embed) and ``embed_model``
    provenance. Same Arrow/mapInPandas boundary as ``extract_features``;
    binary in, ``array<float>`` out, narrow stage, bytes never shuffled.
    Identical payloads get identical stub embeddings, the invariant the
    downstream dedup relies on.
    """
    flat = media.select(
        "doc_id", "payload", F.col("media_meta.kind").alias("kind")
    )
    return flat.mapInPandas(_embed_batches, EMBED_SCHEMA)


def _embed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The embed_media pandas stage, module-level so the gate logic is
    unit-testable without a worker process."""
    import hashlib

    name, model_embed = _worker_embedder()
    for pdf in it:
        vecs = []
        for p in pdf["payload"]:
            dig = hashlib.md5(p).digest()
            vecs.append(
                [(dig[i % 16] - 127.5) / 127.5 for i in range(EMBED_DIM)]
            )
        model_vecs = [None] * len(pdf)
        model_name = "stub"
        if model_embed is not None:
            try:
                got = model_embed(
                    list(pdf["payload"]), list(pdf["kind"])
                )
                # validate INSIDE the guard: a backend returning the wrong
                # row count would otherwise blow up later in the Arrow
                # conversion, failing the task instead of degrading (K2/K3)
                if len(got) != len(pdf):
                    raise ValueError(
                        f"embed backend returned {len(got)} vectors "
                        f"for {len(pdf)} rows"
                    )
                model_vecs = got
                model_name = name
            except Exception:
                # batch-level isolation: a failing model batch keeps the
                # deterministic stub rows (K3); models are batch APIs,
                # so per-row retry would defeat the batching
                model_vecs = [None] * len(pdf)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "kind": pdf["kind"],
                "embedding": vecs,
                "model_embedding": model_vecs,
                "embed_model": [model_name] * len(pdf),
            }
        )


def media_near_dup_df(media: DataFrame, threshold: float = 0.99) -> DataFrame:
    """L4 -> L2 composition: decode-stub embeddings fed through the
    sign-LSH near-dup shape (bucket on the signs of the first 8
    components, cosine-verify in-bucket pairs only). The end-to-end
    media-dedup pipeline a multimodal lake runs: bytes stay in the
    narrow embed stage, the pair join shuffles only
    (doc_id, 16-float vector, bucket).

    Deliberately consumes the deterministic ``embedding`` column, not
    ``model_embedding``: the dedup contract (identical payloads ->
    cosine 1.0) and the oracle rows are pinned to the stub; a deployment
    that wants model-space near-dup swaps the column name here."""
    emb = embed_media(media)
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at("embedding", i + 1) >= 0, "1").otherwise("0")
            for i in range(8)
        ],
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding",
            F.col("b_emb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    keyed = emb.withColumn("bucket", bucket)
    left = keyed.select(
        F.col("doc_id").alias("a_id"), F.col("embedding"), "bucket"
    )
    right = keyed.select(
        F.col("doc_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "bucket",
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine",
            F.round(dot / (norm(F.col("embedding")) * norm(F.col("b_emb"))), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
        .transform(lambda d: sorted_small(d, "a_id", "b_id"))
    )
