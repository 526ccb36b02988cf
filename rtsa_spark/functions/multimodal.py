"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns next to a metadata struct;
decode/resize/frame-sample are Arrow-batched ``mapInPandas`` stages. The
decode step is REAL for the self-describing RTSM container format this
module defines (and :func:`synth_media` writes): a 16-byte header
(magic ``RTSM``, version, kind code, dims, unit count, rate) followed by
a kind-typed body — u8 gray pixels for image/video, big-endian i16 PCM
for audio. The numpy parser (:func:`_parse_rtsm`) is batch-vectorized
(header gather + ``reduceat``/``bincount`` body folds, zero per-row
Python). External codecs (JPEG/FLAC/...) would slot in at the same
``mapInPandas`` seam behind optional imports; ``fake=True`` keeps the
codec-agnostic byte-level stand-in for arbitrary payloads (the
documents-table oracles use it).

Scale design: payload columns are huge, so (a) metadata-only operations
must never deserialize payloads — they are separate columns and Parquet
column pruning skips the bytes entirely; (b) the decode stage bounds Arrow
batch memory via spark.sql.execution.arrow.maxRecordsPerBatch (session.py)
— batch_bytes ~ records * avg_payload; (c) decoded features are small
fixed-width vectors, so the expensive stage shrinks data, never grows it.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary,"
    " width int, height int, n_frames int, sample_rate int, codec string"
)

FEATURE_SCHEMA = "media_id string, kind string, n_bytes long, feature array<float>"

FEATURE_DIM = 16

# RTSM v1 container: 16-byte header, big-endian multi-byte fields.
#   0..3  magic "RTSM"   4 version=1   5 kind (1=image 2=audio 3=video)
#   6..7  width u16      8..9 height u16
#   10..13 n_units u32 (frames / samples / 1)   14..15 sample_rate_khz u16
# body: image/video -> u8 samples; audio -> i16 BE PCM.
RTSM_MAGIC = b"RTSM"
RTSM_HEADER_LEN = 16
RTSM_KIND_CODES = {"image": 1, "audio": 2, "video": 3}


def _rtsm_hex_field(col, nibbles: int, name: str):
    """Fixed-width hex of an unsigned header field, failing LOUDLY when the
    value doesn't fit: ``lpad`` silently SHORTENS a too-long hex string
    (width 70000 -> '1117' -> decoder reads 4375 with no error), which
    would violate the decode contract (real decoders fail loudly, never
    silently)."""
    limit = 1 << (4 * nibbles)
    col = F.col(col) if isinstance(col, str) else col
    return F.when(
        (col < 0) | (col >= F.lit(limit)),
        F.raise_error(
            F.format_string(
                f"RTSM {name} out of range [0, {limit}): %s",
                col.cast("string"),
            )
        ),
    ).otherwise(F.lpad(F.hex(col), nibbles, "0"))


def rtsm_header_hex(kind_code, width, height, n_units, rate_khz):
    """Catalyst expression for the hex string of a 16-byte RTSM v1 header.
    The ONE place that encodes the byte layout builder-side — synth_media
    and any test/gate query that assembles payloads must use this, so the
    field offsets can never drift from the numpy parser above. Each field
    is range-checked against its byte width (u8/u16/u32) and raises on
    overflow rather than emitting a corrupt-but-parseable header."""
    return F.concat(
        F.lit("5254534d"),  # "RTSM"
        F.lit("01"),  # version 1
        _rtsm_hex_field(kind_code, 2, "kind_code"),
        _rtsm_hex_field(width, 4, "width"),
        _rtsm_hex_field(height, 4, "height"),
        _rtsm_hex_field(n_units, 8, "n_units"),
        _rtsm_hex_field(rate_khz, 4, "rate_khz"),
    )


def synth_media(spark, n_rows: int, seed: int = 42, payload_bytes: int = 256) -> DataFrame:
    """Deterministic media table with REAL self-describing RTSM payloads:
    the 16-byte header is built field-by-field in Catalyst (hex-string
    assembly, no UDF) and the body is deterministic pseudo-content from
    per-chunk xxhash64 — so ``extract_features(fake=False)`` genuinely
    parses what this writes. ``payload_bytes`` is the TOTAL payload size
    (header + body) and must be a multiple of 8, >= 24."""
    if payload_bytes < 24 or payload_bytes % 8:
        raise ValueError("payload_bytes must be a multiple of 8, >= 24")
    df = spark.range(n_rows)
    mid = F.format_string("m%08d", F.col("id"))
    kc = (F.pmod(F.xxhash64(mid, F.lit(seed)), F.lit(3)) + 1).cast("int")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), kc
    )
    width = (64 + F.pmod(F.xxhash64(mid, F.lit(seed + 2)), F.lit(448))).cast("int")
    height = (64 + F.pmod(F.xxhash64(mid, F.lit(seed + 3)), F.lit(448))).cast("int")
    n_frames = (1 + F.pmod(F.xxhash64(mid, F.lit(seed + 4)), F.lit(300))).cast("int")
    body_bytes = payload_bytes - RTSM_HEADER_LEN
    n_units = (
        F.when(kc == 3, n_frames)
        .when(kc == 2, F.lit(body_bytes // 2))
        .otherwise(F.lit(1))
    ).cast("int")
    rate_khz = F.when(kc == 2, F.lit(16)).otherwise(F.lit(0))
    header_hex = rtsm_header_hex(kc, width, height, n_units, rate_khz)
    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(body_bytes // 8 - 1)),
        lambda i: F.lpad(F.hex(F.xxhash64(mid, i, F.lit(seed + 1))), 16, "0"),
    )
    payload = F.to_binary(
        F.concat(header_hex, F.array_join(chunks, "")), F.lit("hex")
    )
    return df.select(
        mid.alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        width.alias("width"),
        height.alias("height"),
        n_frames.alias("n_frames"),
        F.lit(16000).alias("sample_rate"),
        F.lit("rtsm1").alias("codec"),
    )


def _rtsm_headers(payloads: "pd.Series") -> tuple:
    """Validate + parse the 16-byte RTSM headers of one batch. Returns
    ``(lens, blob, off, kind_code, width, height, n_units, rate_khz)``.
    Raises ValueError on bad magic/version/kind or truncated header —
    real decoders fail loudly, never silently."""
    import numpy as np

    nb = len(payloads)
    lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=nb)
    if (lens < RTSM_HEADER_LEN).any():
        raise ValueError(
            f"{int((lens < RTSM_HEADER_LEN).sum())} payload(s) shorter than"
            f" the {RTSM_HEADER_LEN}-byte RTSM header"
        )
    blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    hdr = blob[off[:, None] + np.arange(RTSM_HEADER_LEN)].astype(np.int64)
    magic = np.frombuffer(RTSM_MAGIC, dtype=np.uint8).astype(np.int64)
    bad = (hdr[:, :4] != magic).any(axis=1) | (hdr[:, 4] != 1)
    if bad.any():
        raise ValueError(
            f"{int(bad.sum())} payload(s) failed RTSM magic/version check"
        )
    kind_code = hdr[:, 5]
    if ((kind_code < 1) | (kind_code > 3)).any():
        raise ValueError("RTSM kind code outside 1..3")
    width = hdr[:, 6] * 256 + hdr[:, 7]
    height = hdr[:, 8] * 256 + hdr[:, 9]
    n_units = (
        hdr[:, 10] * 16777216 + hdr[:, 11] * 65536
        + hdr[:, 12] * 256 + hdr[:, 13]
    )
    rate_khz = hdr[:, 14] * 256 + hdr[:, 15]
    return lens, blob, off, kind_code, width, height, n_units, rate_khz


def _rtsm_sample_stream(payloads: "pd.Series", parsed: tuple = None) -> tuple:
    """Decoded per-row sample stream of one batch: ``(values, row_ids,
    positions)`` where image/video samples are body u8 bytes and audio
    samples are big-endian i16 PCM (position = sample index within the
    row). Batch-vectorized: one mask over the concatenated blob, no
    per-row Python. Pass ``parsed`` = the ``_rtsm_headers`` tuple when the
    caller already parsed the batch — payloads dominate data volume, so
    re-concatenating and re-validating them here would double the byte
    traffic of the hot decode path."""
    import numpy as np

    nb = len(payloads)
    lens, blob, off, kind_code, *_ = (
        parsed if parsed is not None else _rtsm_headers(payloads)
    )
    blens = lens - RTSM_HEADER_LEN
    row_ids = np.repeat(np.arange(nb), blens)
    starts = off + RTSM_HEADER_LEN
    body_mask = np.ones(blob.size, dtype=bool)
    body_mask[(off[:, None] + np.arange(RTSM_HEADER_LEN)).ravel()] = False
    body_gidx = np.arange(blob.size)[body_mask]
    bvals = blob[body_mask].astype(np.int64)
    bpos = body_gidx - np.repeat(starts, blens)
    is_audio = kind_code[row_ids] == 2
    # candidate value per body byte: itself (u8) or the BE i16 it starts
    nxt = np.minimum(body_gidx + 1, max(blob.size - 1, 0))
    audio_val = bvals * 256 + blob[nxt].astype(np.int64) - 65536 * (bvals >= 128)
    val_all = np.where(is_audio, audio_val, bvals)
    pos_all = np.where(is_audio, bpos // 2, bpos)
    sel = np.where(
        is_audio, (bpos % 2 == 0) & (bpos + 1 < blens[row_ids]), True
    )
    return val_all[sel], row_ids[sel], pos_all[sel]


def _parse_rtsm(payloads: "pd.Series") -> dict:
    """Vectorized RTSM parse + decode of one Arrow batch. Returns a dict
    of per-row arrays: ``kind_code, width, height, n_units, rate_khz,
    n_samples, sample_sum, hist`` (rows x FEATURE_DIM decoded-value
    histogram counts; u8 samples bin by high nibble, audio by the
    unsigned high nibble ``(v + 65536*(v<0)) >> 12``)."""
    import numpy as np

    nb = len(payloads)
    parsed = _rtsm_headers(payloads)
    lens, blob, off, kind_code, width, height, n_units, rate_khz = parsed
    sval, srow, _ = _rtsm_sample_stream(payloads, parsed=parsed)
    n_samples = np.bincount(srow, minlength=nb).astype(np.int64)
    sample_sum = np.bincount(srow, weights=sval, minlength=nb).astype(np.int64)
    bins = np.where(sval < 0, sval + 65536, sval)
    bins = np.where(kind_code[srow] == 2, bins >> 12, bins >> 4)
    hist = np.zeros((nb, FEATURE_DIM), dtype=np.int64)
    np.add.at(hist, (srow, bins), 1)
    return {
        "kind_code": kind_code,
        "width": width,
        "height": height,
        "n_units": n_units,
        "rate_khz": rate_khz,
        "n_samples": n_samples,
        "sample_sum": sample_sum,
        "hist": hist,
    }


def _fake_decode_features(payloads: "pd.Series") -> "object":
    """Deterministic 'decoder': fixed-width feature = per-column byte mean
    of the zero-padded (rows, FEATURE_DIM) reshape of each payload.

    Truly vectorized over the whole batch: one ``frombuffer`` of the
    concatenated payloads + a single ``np.add.at`` scatter-add keyed by
    (row, byte_position % FEATURE_DIM) — no per-row Python loop (CLAUDE.md
    kernel rule), identical output to the per-payload reshape/mean."""
    import numpy as np

    k = FEATURE_DIM
    lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=len(payloads))
    blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    nb = len(lens)
    sums = np.zeros((nb, k), dtype=np.float64)
    if blob.size:
        row_ids = np.repeat(np.arange(nb), lens)
        pos = np.arange(blob.size) - np.repeat(
            np.concatenate(([0], np.cumsum(lens)[:-1])), lens
        )
        np.add.at(sums, (row_ids, pos % k), blob)
    rows = np.maximum((lens + k - 1) // k, 1)
    feats = (sums / (rows[:, None] * 255.0)).astype("float32")
    return list(feats)


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + feature-extract stage over Arrow batches.

    ``fake=False`` (default) REALLY decodes: payloads must be RTSM
    containers (what :func:`synth_media` writes); the feature is the
    FEATURE_DIM-bin value-density histogram of the decoded samples (u8
    pixels binned by high nibble; i16 PCM by unsigned high nibble) — a
    kind-aware decode, not a byte hash. Invalid payloads raise, they
    never pass silently. ``fake=True`` keeps the codec-agnostic
    byte-mean stand-in for arbitrary binary payloads. An external codec
    (JPEG/FLAC) would slot in at this same seam behind an optional
    import."""
    import numpy as np

    def it(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if fake:
                feats = _fake_decode_features(pdf["payload"])
            else:
                dec = _parse_rtsm(pdf["payload"])
                denom = np.maximum(dec["n_samples"], 1)[:, None]
                feats = list(
                    (dec["hist"] / denom).astype("float32")
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(it, FEATURE_SCHEMA)


DECODE_SCHEMA = (
    "media_id string, kind_code int, width int, height int, n_units int,"
    " rate_khz int, n_samples bigint, sample_sum bigint"
)


def decode_media_digests(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """REAL decode projected to integer-exact scalars (oracle-friendly):
    parse the RTSM header (kind/dims/units/rate come from the BYTES, not
    from metadata columns) and fold the decoded samples to exact-int
    ``n_samples``/``sample_sum`` (i16-aware for audio). Every value is
    reproducible by any engine that can reconstruct the payload bytes —
    the gate oracle builds payloads from md5 hex so DuckDB replays the
    decode in pure SQL."""
    id_type = dict(media.dtypes)[id_col]
    schema = DECODE_SCHEMA.replace("media_id string", f"media_id {id_type}")

    def it(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dec = _parse_rtsm(pdf["payload"])
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "kind_code": dec["kind_code"].astype("int32"),
                    "width": dec["width"].astype("int32"),
                    "height": dec["height"].astype("int32"),
                    "n_units": dec["n_units"].astype("int32"),
                    "rate_khz": dec["rate_khz"].astype("int32"),
                    "n_samples": dec["n_samples"],
                    "sample_sum": dec["sample_sum"],
                }
            )

    return media.mapInPandas(it, schema)


def extract_feature_digests(
    media: DataFrame, id_col: str = "media_id", fake: bool = False
) -> DataFrame:
    """Decode stage projected to integer-exact scalars (oracle-friendly).

    Same Arrow-batched plumbing as :func:`extract_features`, but the output
    is canonicalizable/hashable: ``n_bytes``, ``byte_sum`` (exact int sum of
    payload bytes) and ``feat_digest_e6`` — the integer-exact digest of the
    fake decoder's feature vector. Because the decoder's features are
    column-means of the zero-padded byte matrix divided by 255,
    ``sum(feature) = byte_sum / (255 * ceil(n_bytes/16))`` exactly, so
    ``feat_digest_e6 = (1e6 * byte_sum) // (255 * ceil(n_bytes/16))``
    computed in pure integer arithmetic — reproducible bit-for-bit by any
    ANSI-SQL engine. pytest ties the digest to the float feature path.

    Vectorized: one ``frombuffer`` over the concatenated batch payloads +
    ``np.add.reduceat`` per-row sums — zero per-row Python.
    """
    id_type = dict(media.dtypes)[id_col]
    schema = (
        f"media_id {id_type}, n_bytes bigint, byte_sum bigint, feat_digest_e6 bigint"
    )

    def it(batches):
        import numpy as np

        for pdf in batches:
            if not fake:
                raise ValueError(
                    "extract_feature_digests is the byte-level stand-in"
                    " (fake=True); use decode_media_digests for the real"
                    " RTSM decode"
                )
            if len(pdf) == 0:
                continue
            lens = pdf["payload"].map(len).to_numpy("int64")
            blob = np.frombuffer(b"".join(pdf["payload"]), dtype=np.uint8)
            if blob.size:
                offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
                byte_sum = np.add.reduceat(
                    blob.astype(np.int64), np.clip(offsets, 0, blob.size - 1)
                )
                byte_sum[lens == 0] = 0  # reduceat yields a stray element there
            else:
                byte_sum = np.zeros(len(pdf), dtype=np.int64)
            rows = (lens + FEATURE_DIM - 1) // FEATURE_DIM
            digest = np.where(
                rows > 0, (1_000_000 * byte_sum) // (255 * np.maximum(rows, 1)), 0
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "n_bytes": lens,
                    "byte_sum": byte_sum,
                    "feat_digest_e6": digest,
                }
            )

    return media.mapInPandas(it, schema)


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling manifest (video): one output row per sampled frame
    index — pure Catalyst (sequence + explode), payload untouched."""
    return media.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def resize_plan(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Pure-Catalyst resize planning (metadata only, payload never read):
    aspect-preserving integer target dims capped at ``max_side`` on the
    longest side, plus the decimation ``stride`` (ceil(longest/max_side))
    the payload stage samples with. Null/degenerate dims pass through
    unchanged at stride 1. All integer arithmetic — any SQL engine
    replays the plan exactly."""
    if max_side <= 0:
        raise ValueError("max_side must be positive")
    w, h = F.col("width"), F.col("height")
    m = F.greatest(w, h)
    need = m.isNotNull() & (m > max_side)
    return media.withColumns(
        {
            "target_w": F.when(need, F.floor(w * max_side / m))
            .otherwise(w).cast("int"),
            "target_h": F.when(need, F.floor(h * max_side / m))
            .otherwise(h).cast("int"),
            "stride": F.when(
                need, F.floor((m + max_side - 1) / max_side)
            ).otherwise(F.lit(1)).cast("int"),
        }
    )


def resize_media(
    media: DataFrame,
    max_side: int = 224,
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Decode -> resize (decimate by the plan's stride) -> digest, as one
    Arrow-batched ``mapInPandas`` stage over :func:`resize_plan`.
    ``fake=False`` (default) decodes RTSM payloads for real and decimates
    the decoded sample stream (u8 pixels / i16 PCM) by the plan's stride;
    ``n_cp``/``strided_cp_sum`` then mean decoded-sample count / strided
    sample sum. ``fake=True`` keeps the codec-agnostic stand-in for
    arbitrary payloads — bytes ARE the utf-8 'pixel' stream, decode =
    utf-8 -> code-point array, resize = every ``stride``-th code point,
    digest = their exact integer sum (``strided_cp_sum``) — so the full
    batching/schema/pruning plumbing is oracle-replayable either way.

    Kernel is batch-vectorized, zero per-row Python: code-point counts
    come from counting non-continuation bytes per row (reduceat over one
    boolean mask of the concatenated blob), the code-point stream from a
    single utf-32 reinterpretation of the batch-joined decode, and the
    per-row strided sums from one masked bincount."""
    import numpy as np

    planned = resize_plan(media, max_side)
    id_type = dict(media.dtypes)[id_col]
    schema = (
        f"media_id {id_type}, target_w int, target_h int, stride int,"
        " n_cp bigint, strided_cp_sum bigint"
    )

    def it(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not fake:
                # real RTSM decode: the decoded sample stream (u8 pixels /
                # i16 PCM) is the thing decimated by the plan's stride
                sval, srow, spos = _rtsm_sample_stream(pdf["payload"])
                ns = np.bincount(srow, minlength=len(pdf)).astype(np.int64)
                stride = np.maximum(
                    pdf["stride"].to_numpy("int64"), 1
                )[srow]
                keep = (spos % stride) == 0
                ssum = np.bincount(
                    srow[keep], weights=sval[keep], minlength=len(pdf)
                ).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "media_id": pdf[id_col].to_numpy(),
                        "target_w": pdf["target_w"].to_numpy(),
                        "target_h": pdf["target_h"].to_numpy(),
                        "stride": pdf["stride"].to_numpy(),
                        "n_cp": ns,
                        "strided_cp_sum": ssum,
                    }
                )
                continue
            payloads = pdf["payload"]
            blob = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            # code points per row = non-continuation bytes per row
            lens = payloads.map(len).to_numpy("int64")
            is_start = (blob < 0x80) | (blob >= 0xC0)
            offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
            if blob.size:
                n_cp = np.add.reduceat(
                    is_start.astype(np.int64), np.clip(offsets, 0, blob.size - 1)
                )
                n_cp[lens == 0] = 0
            else:
                n_cp = np.zeros(len(pdf), dtype=np.int64)
            # one decode of the joined blob -> one utf-32 view = code points
            cps = np.frombuffer(
                blob.tobytes().decode("utf-8").encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            nb = len(pdf)
            cp_off = np.concatenate(([0], np.cumsum(n_cp)[:-1]))
            row_ids = np.repeat(np.arange(nb), n_cp)
            pos = np.arange(cps.size) - np.repeat(cp_off, n_cp)
            k = np.repeat(pdf["stride"].to_numpy("int64"), n_cp)
            keep = (pos % np.maximum(k, 1)) == 0
            ssum = np.bincount(
                row_ids[keep], weights=cps[keep], minlength=nb
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].to_numpy(),
                    "target_w": pdf["target_w"].to_numpy(),
                    "target_h": pdf["target_h"].to_numpy(),
                    "stride": pdf["stride"].to_numpy(),
                    "n_cp": n_cp,
                    "strided_cp_sum": ssum,
                }
            )

    return planned.mapInPandas(it, schema)
