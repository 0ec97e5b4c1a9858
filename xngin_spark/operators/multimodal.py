"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas iterators.

The 100 TB-shape contract: media (image/audio/video) travels as a
``binary`` column with a metadata struct beside it; per-item work
(decode, resize, frame-sample, feature-extract) runs in ``mapInPandas``
so bytes move driver-free, Arrow-batched, partition-parallel. The
actual codecs (PIL/ffmpeg/...) are NOT in this container, so the decode
step is stubbed behind ``XNGIN_FAKE_DECODE`` — a deterministic fake
that exercises the real plumbing (schema, batching, UDF signature)
end-to-end. Swap `_decode_stub` for a real decoder in production; the
Spark side does not change.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xngin_spark.operators.util import checkpoint

if TYPE_CHECKING:  # pandas imported lazily inside the UDF workers
    import pandas as pd

XNGIN_FAKE_DECODE = True  # no image/audio libs in this container

# Output schema of the decode/feature pass — fixed and explicit so the
# downstream plan is stable regardless of decoder implementation.
MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("first_byte", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def as_media_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Model a binary-payload table: payload (binary) + metadata struct.

    On real data the payload is the stored media blob; here we encode
    the text column so the pipeline is runnable in this container.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))  # NULL media ≡ empty payload
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(txt, "UTF-8").alias("payload"),
        F.struct(
            F.length(txt).cast("long").alias("n_chars"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> list[float]:
    """Deterministic fake 'decoder': 4 floats derived from the bytes.

    Replace with real decode (e.g. PIL.Image.open → resize → pixel
    stats) in production.
    """
    if not XNGIN_FAKE_DECODE:  # pragma: no cover
        raise NotImplementedError("real media decoding requires codec libs")
    n = len(payload)
    s = sum(payload)
    return [float(n), float(payload[0] if n else 0), float(s % 997), float(s % 31)]


def extract_media_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas decode/feature pass: Iterator[pd.DataFrame] →
    Iterator[pd.DataFrame], Arrow both ways.

    Partition-parallel; each batch is a pandas DataFrame of
    (doc_id, payload) — the iterator form amortizes per-batch overhead
    and never materializes a partition in memory at once.
    """

    def process(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        if not XNGIN_FAKE_DECODE:  # pragma: no cover
            raise NotImplementedError("real media decoding requires codec libs")

        for pdf in batches:
            # Vectorized fake decode: concatenate the batch's payloads
            # into one uint8 buffer and compute per-payload sums via a
            # prefix sum — no per-byte Python loop (the Arrow batch is
            # the unit of work, numpy the arithmetic engine).
            raw = [bytes(b) if b is not None else b"" for b in pdf["payload"]]
            n = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
            blob = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            csum = np.concatenate([[0], np.cumsum(blob)])
            sums = csum[starts + n] - csum[starts]
            if blob.size:
                first = np.where(n > 0, blob[np.minimum(starts, blob.size - 1)], 0)
            else:
                first = np.zeros(len(n), dtype=np.int64)
            feature = (
                np.stack([n, first, sums % 997, sums % 31], axis=1)
                .astype(np.float32)
                .tolist()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": n,
                    "first_byte": first,
                    "checksum": sums % 997,
                    "feature": feature,
                }
            )

    from xngin_spark.operators.util import fan_out

    # pandas decode is the expensive stage — spread single-row-group
    # inputs across cores before entering Python
    return fan_out(media.select("doc_id", "payload")).mapInPandas(
        process, MEDIA_FEATURES_SCHEMA
    )


def frame_sample(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """'Frame sampling' plumbing: one output row per sampled offset —
    the row-explosion shape of video frame extraction (1 input → N
    frames), with deterministic fake frames (byte windows).

    JVM-side explode of offsets; only the per-frame payload slice is
    produced, so downstream stages shuffle frames, not full blobs.
    """
    offsets = F.sequence(
        F.lit(0),
        F.least(
            F.greatest((F.length("payload") / every_n_bytes).cast("int") - 1, F.lit(0)),
            F.lit(max_frames - 1),
        ),
    )
    return media.select(
        "doc_id",
        F.explode_outer(offsets).alias("frame_no"),
        F.substring(
            F.col("payload"), F.col("frame_no") * every_n_bytes + 1, every_n_bytes
        ).alias("frame_bytes"),
    ).filter(F.col("frame_no").isNotNull())


RESIZE_TARGET = 64

MEDIA_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized_len", T.LongType()),
        T.StructField("resized_md5", T.StringType()),
    ]
)


def resize_media(media: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """'Resize' pass: deterministic strided downsample of the payload to
    at most ``target`` bytes — the image-resize shape (full blob in,
    small fixed-size representation out) with the same mapInPandas
    plumbing a real `PIL.Image.resize` would use. Downstream stages
    shuffle ``target``-byte rows instead of blobs, which is the entire
    point of resizing early at 100 TB."""

    def process(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        def shrink(b: bytes) -> bytes:
            step = max(len(b) // target, 1)
            return b[::step][:target]

        for pdf in batches:
            small = pdf["payload"].map(shrink)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized_len": small.map(len),
                    "resized_md5": small.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    from xngin_spark.operators.util import fan_out

    return fan_out(media.select("doc_id", "payload")).mapInPandas(
        process, MEDIA_RESIZE_SCHEMA
    )


AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_no", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
    ]
)

AUDIO_WINDOW = 64  # fake-PCM samples (bytes) per analysis window


def audio_window_energy(media: DataFrame, window: int = AUDIO_WINDOW) -> DataFrame:
    """Audio-shaped pass: windowed energy over the decoded sample
    stream — the VAD / silence-trim / loudness-normalization primitive.
    Bytes stand in for PCM samples under the fake decode (sum of
    squared sample values per fixed window, exact integers so the
    DuckDB oracle matches bit-for-bit); swap the byte view for a real
    ``audioop``/ffmpeg decode in production — the Spark side (schema,
    Arrow batching, per-window explode) does not change.

    Trailing partial windows are emitted with their true n_samples —
    dropping them silently would bias energy statistics. Empty or NULL
    payloads emit NO windows (an empty stream has no analysis windows),
    matching the oracle's window generator exactly.
    """

    def process(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        if not XNGIN_FAKE_DECODE:  # pragma: no cover
            raise NotImplementedError("real audio decode needs codec libs")

        for pdf in batches:
            # Vectorized windowed sum-of-squares over the whole Arrow
            # batch: one concatenated uint8 buffer, per-window sums via
            # a prefix sum over squared samples — no per-byte Python.
            raw = [bytes(b) if b is not None else b"" for b in pdf["payload"]]
            n = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            nwin = -(-n // window)  # ceil; 0 windows for empty payloads
            total = int(nwin.sum())
            if total == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": np.zeros(0, np.int64),
                        "window_no": np.zeros(0, np.int64),
                        "n_samples": np.zeros(0, np.int64),
                        "energy": np.zeros(0, np.int64),
                    }
                )
                continue
            blob = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            csum_sq = np.concatenate([[0], np.cumsum(blob * blob)])
            doc_idx = np.repeat(np.arange(len(n)), nwin)
            win_no = np.arange(total) - np.repeat(np.cumsum(nwin) - nwin, nwin)
            w_start = starts[doc_idx] + win_no * window
            w_end = np.minimum(w_start + window, starts[doc_idx] + n[doc_idx])
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[doc_idx],
                    "window_no": win_no,
                    "n_samples": w_end - w_start,
                    "energy": csum_sq[w_end] - csum_sq[w_start],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(process, AUDIO_ENERGY_SCHEMA)


PHASH_BITS = 60  # shifts stay < 63, safe for BIGINT in every engine
PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def perceptual_hash(media: DataFrame, bits: int = PHASH_BITS) -> DataFrame:
    """Average-hash perceptual signature over the decoded payload:
    (doc_id, phash) — the multimodal near-dup primitive (aHash, the
    public average-hash family behind image dedup): split the payload
    into ``bits`` equal windows, window mean above the global mean
    sets the bit. Robust to small local edits (one changed region
    flips at most its windows' bits), so near-identical media land at
    small Hamming distance.

    All-INTEGER bit rule — ``sum_w * n > total * len_w`` instead of a
    float mean comparison — so any engine reproduces the signature
    exactly. Vectorized mapInPandas (the module's decode contract):
    the batch's payloads concatenate into one uint8 buffer, one prefix
    sum serves every window of every payload via computed boundary
    indices; no per-byte or per-window Python. Empty windows/payloads
    hash to 0 bits.
    """

    def process(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        if not XNGIN_FAKE_DECODE:  # pragma: no cover
            raise NotImplementedError("real media decoding requires codec libs")

        w = np.arange(bits + 1, dtype=np.int64)
        for pdf in batches:
            raw = [bytes(b) if b is not None else b"" for b in pdf["payload"]]
            n = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
            blob = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            csum = np.concatenate([[0], np.cumsum(blob)])
            # per-payload window boundaries: floor(w*n/bits), vectorized
            bounds = starts[:, None] + (w[None, :] * n[:, None]) // bits
            wsums = csum[bounds[:, 1:]] - csum[bounds[:, :-1]]
            wlens = bounds[:, 1:] - bounds[:, :-1]
            total = (csum[starts + n] - csum[starts])[:, None]
            bit = wsums * n[:, None] > total * wlens
            phash = (bit.astype(np.int64) << np.arange(bits)[None, :]).sum(
                axis=1
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": phash})

    from xngin_spark.operators.util import fan_out

    return fan_out(media.select("doc_id", "payload")).mapInPandas(
        process, PHASH_SCHEMA
    )


def phash_dup_pairs(
    sigs: DataFrame, max_hamming: int = 2, bits: int = PHASH_BITS
) -> DataFrame:
    """Near-dup media pairs from perceptual hashes: (a, b, hamming)
    with Hamming(a, b) <= max_hamming, a < b.

    Pigeonhole blocking (the simhash_dup_pairs shape): split the
    signature into ``max_hamming + 1`` blocks — any pair within the
    Hamming budget agrees on at least one whole block — explode each
    signature to (block_no, block_val) rows and self-join ONCE on
    them, so candidate generation is a single hash join; the exact
    bit_count(xor) verify runs only on block-collision survivors and
    distinct collapses pairs that collide in several blocks. ``sigs``
    is checkpointed first: it comes from a mapInPandas decode, and
    without the barrier each join side would re-run the Python decode
    of the whole corpus (2 longs/doc to materialize vs N decode
    passes).
    """
    nblocks = max_hamming + 1
    width = bits // nblocks
    pinned = checkpoint(sigs)
    parts = []
    for blk in range(nblocks):
        lo = blk * width
        take = width if blk < nblocks - 1 else bits - lo
        parts.append(
            F.struct(
                F.lit(blk).alias("blk"),
                F.shiftright(F.col("phash"), lo)
                .bitwiseAND(F.lit((1 << take) - 1))
                .alias("key"),
            )
        )
    blocks = pinned.select(
        F.col("doc_id").alias("id"),
        F.col("phash").alias("sh"),
        F.explode(F.array(*parts)).alias("bk"),
    ).select("id", "sh", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocks.select("blk", "key", F.col("id").alias("a"), F.col("sh").alias("ha"))
    b = blocks.select("blk", "key", F.col("id").alias("b"), F.col("sh").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (
        a.join(b, on=["blk", "key"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )
