"""Multimodal column operators: opaque binary payloads + typed metadata
(beyond-reference capability, BASELINE.json north star).

Media is modeled the way a 100 TB training-data pipeline stores it: an
opaque ``binary`` column plus a typed metadata struct, processed by
Arrow-batched pandas functions over ``mapInPandas`` — schema, partitioning,
UDF signature and batch shape are all real and tested. The fixture payloads
are derived deterministically from ``documents.text`` (UTF-8 bytes), which
makes every pipeline stage exactly oracle-checkable in DuckDB (md5/substr
on the same text). Real image/audio decoders are not in this container:
``decode_image`` raises ``NotImplementedError`` behind an import guard and
the registry path uses the deterministic fake decoder — swapping in PIL
changes one function, no plan changes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread

FRAME_BYTES = 256


def media_table(cat: Catalog) -> DataFrame:
    """(doc_id, payload binary, meta struct<format,n_bytes>) — the canonical
    multimodal layout: payload opaque, metadata queryable/prunable."""
    return cat.documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def mm_manifest(cat: Catalog) -> DataFrame:
    """Integrity manifest → (doc_id, format, n_bytes, checksum): metadata
    projection + content hash, all JVM-side builtins over the binary
    column."""
    m = media_table(cat)
    return m.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )


def mm_frame_sample(cat: Catalog) -> DataFrame:
    """Fixed-size frame sampling → (doc_id, frame_idx, frame_checksum):
    split each payload into FRAME_BYTES chunks (the video frame-sample /
    audio chunk shape) via a builtin sequence+substring explode — no
    Python, stays in whole-stage codegen."""
    m = media_table(cat)
    n_frames = F.ceil(F.col("meta.n_bytes") / F.lit(FRAME_BYTES)).cast("int")
    # Slice the BINARY payload directly — ``substring`` on binary is
    # byte-indexed, so frame boundaries agree with the byte-derived frame
    # count for any payload (round-1 ADVICE: the previous cast-to-string
    # slice counted characters, misaligning non-ASCII frames). The DuckDB
    # oracle stays char-based, which is equivalent on the ASCII fixtures
    # (DuckDB cannot slice BLOBs); ``test_frame_sample_bytes_non_ascii``
    # pins the byte semantics where the oracle can't reach.
    frames = m.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: F.substring(
                    F.col("payload"),
                    (i * FRAME_BYTES + 1).cast("int"),
                    FRAME_BYTES,
                ),
            )
        ).alias("frame_idx", "frame"),
    )
    return frames.select(
        "doc_id", "frame_idx", F.md5("frame").alias("frame_checksum")
    )


_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_spaces", T.LongType()),
        T.StructField("n_digits", T.LongType()),
        T.StructField("n_upper", T.LongType()),
    ]
)


def mm_byte_features(cat: Catalog) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas`` → (doc_id,
    n_bytes, n_spaces, n_digits, n_upper). The deterministic stand-in for
    image/audio feature extraction: same batch shape (iterator of pandas
    frames), same partition-parallel execution — only the body changes when
    a real decoder exists. Exactly oracle-checked (byte counts are
    SQL-expressible on the source text)."""
    m = spread(media_table(cat)).select("doc_id", "payload")

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in payloads],
                    "n_spaces": [b.count(b" ") for b in payloads],
                    "n_digits": [
                        sum(1 for ch in b if 0x30 <= ch <= 0x39) for b in payloads
                    ],
                    "n_upper": [
                        sum(1 for ch in b if 0x41 <= ch <= 0x5A) for b in payloads
                    ],
                }
            )

    return m.mapInPandas(extract, _FEAT_SCHEMA)


def decode_image(payload: bytes) -> "object":
    """Real image decode — requires PIL, which is intentionally absent in
    this container (multimodal decode is stubbed per the build contract)."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "image decoding requires PIL; container ships without media "
            "libs — use mm_fake_decode for the deterministic stand-in"
        ) from exc


def _pil_decoder(payload: bytes):
    """(width, height, channels, [mean_r, mean_g, mean_b]) via Pillow —
    the real decoder body behind the import gate."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        rgb = im.convert("RGB")
        w, h = rgb.size
        px = list(rgb.getdata())
        n = max(len(px), 1)
        means = [sum(p[i] for p in px) / n for i in range(3)]
        return (w, h, 3, means)


def mm_image_decode(media: DataFrame, decoder=None) -> DataFrame:
    """Real image decode over the binary column → (doc_id, ok, width,
    height, channels, channel_means): Arrow-batched ``mapInPandas``,
    per-row decode with corrupt-file tolerance (a payload the decoder
    rejects yields ok=false + NULL features instead of failing the stage
    — the standard contract of a 100 TB media pipeline, where some
    fraction of any crawl is undecodable).

    Gate: with no ``decoder`` argument, Pillow is required and probed
    EAGERLY at plan-build time — absent PIL raises ``NotImplementedError``
    here, loudly, not per-task (the build-contract stub; this container
    ships no media libs). Tests inject a deterministic decoder to drive
    the identical Arrow plumbing through the decode branch; swapping in
    the PIL body changes zero plan shape."""
    if decoder is None:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "image decoding requires PIL; container ships without "
                "media libs — inject a decoder or use mm_fake_decode"
            ) from exc
        decoder = _pil_decoder

    cols = ["doc_id", "ok", "width", "height", "channels", "channel_means"]
    schema = (
        "doc_id long, ok boolean, width int, height int, channels int, "
        "channel_means array<double>"
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, c, means = decoder(bytes(payload))
                    rows.append((doc_id, True, w, h, c, means))
                except Exception:
                    rows.append((doc_id, False, None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    return media.select("doc_id", "payload").mapInPandas(gen, schema)


def mm_fake_decode(cat: Catalog) -> DataFrame:
    """Deterministic fake decoder → (doc_id, width, height, channels):
    dimensions derived from byte length the way a real decoder would read a
    header — keeps the downstream schema and plan identical to the PIL
    path, exactly oracle-checked."""
    m = media_table(cat)
    return m.select(
        "doc_id",
        (F.col("meta.n_bytes") % 640 + 1).alias("width"),
        (F.col("meta.n_bytes") % 480 + 1).alias("height"),
        F.lit(3).alias("channels"),
    )


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "mm_manifest",
    "mm_frame_sample",
    "mm_byte_features",
    "mm_fake_decode",
)
