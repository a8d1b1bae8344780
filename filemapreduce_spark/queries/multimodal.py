"""Multimodal blobs: deterministic synthetic WAV/PPM payloads,
header parsing, decode and feature extraction, frame sampling, and
image/audio near-duplicate fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemapreduce_spark.queries import register
from filemapreduce_spark.sources.tables import load_table as t


# --------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata).
# --------------------------------------------------------------------
@register(
    "multimodal_blob_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CASE WHEN n_chars > 300 THEN 'large' ELSE 'small' END AS size_class
    FROM documents ORDER BY doc_id
    """,
    tags=("multimodal", "llm"),
)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: payload as bytes + typed metadata
    columns (the schema pattern for image/audio/video at scale)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        F.when(F.col("n_chars") > 300, "large").otherwise("small").alias(
            "size_class"
        ),
    )


# WAV synthesis parameters, shared by the Spark encoder and the DuckDB
# oracle. PCM sample j of a doc is the int16 with unsigned value
#   raw(doc, j) = (doc_id*7919 + j*104729 + 12345) % 65536
# interleaved over ch channels for n_frames frames.
_WAV_A, _WAV_B, _WAV_C = 7919, 104729, 12345


def parse_wav(doc_id, b):
    """Chunk-walking WAV/RIFF container parse → (n_channels,
    sample_rate, raw PCM data bytes). Shared by the decode/feature
    queries; raises on corrupt containers instead of returning
    garbage."""
    import struct

    if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a RIFF/WAVE payload")
    ch = rate = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack_from("<HHI", body, 0)
            if fmt != 1:
                raise ValueError(f"doc {doc_id}: not PCM")
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned (pad byte)
    if ch is None or data is None:
        raise ValueError(f"doc {doc_id}: missing fmt/data chunk")
    return ch, rate, data


def decode_wav_payload(doc_id, b):
    """WAV parse → feature tuple (shared by the
    multimodal_decode_features stage and its unit tests)."""
    import numpy as np

    ch, rate, data = parse_wav(doc_id, b)
    samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
    ch0 = samples[0::ch]
    ch1 = samples[1::ch] if ch == 2 else np.array([], np.int64)
    return (
        doc_id,
        ch,
        rate,
        len(samples) // ch,
        len(data),
        int(np.frombuffer(b, np.uint8).sum()),
        int(data[0]),
        int(data[1]),
        int(ch0.min()),
        int(ch0.max()),
        int(ch0.sum()),
        int(ch1.sum()) if ch == 2 else 0,
    )


def synth_wav_pdf(pdf):
    """Synthesize one Arrow batch of WAV payloads (RIFF header +
    16-bit LE PCM from the shared integer recurrence) — the binary
    audio corpus both multimodal audio queries decode.

    r12 (guide §4.2): the PCM recurrence is computed for the WHOLE
    batch in one vectorized pass over a concatenated sample index
    (one numpy expression instead of ~5 small numpy calls per doc);
    only the per-container header pack + byte slice stays per doc.
    Byte-identical payloads.
    """
    import struct

    import numpy as np
    import pandas as pd

    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    n = (50 + ids % 77) * (1 + ids % 2)
    off = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    j = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], n)
    dd = np.repeat(ids, n)
    raw = (dd * _WAV_A + j * _WAV_B + _WAV_C) % 65536
    buf = (raw - 32768).astype("<i2").tobytes()
    payloads = []
    for i, doc_id in enumerate(ids):
        doc_id = int(doc_id)
        ch = 1 + doc_id % 2
        rate = 8000 + (doc_id % 3) * 4000
        pcm = buf[2 * off[i] : 2 * off[i + 1]]
        header = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(pcm), b"WAVE",
            b"fmt ", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16,
            b"data", len(pcm),
        )
        payloads.append(header + pcm)
    return pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _wav_le4(x: str) -> str:
    """DuckDB expr: byte sum of the 4-byte little-endian encoding."""
    return (
        f"(({x}) % 256 + (({x}) // 256) % 256 + (({x}) // 65536) % 256"
        f" + (({x}) // 16777216) % 256)"
    )


@register(
    "multimodal_decode_features",
    f"""
    WITH p AS (
      SELECT doc_id,
             50 + doc_id % 77 AS n_frames,
             1 + doc_id % 2 AS ch,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents
    ), s AS (
      SELECT doc_id, n_frames, ch, rate,
             unnest(generate_series(0, n_frames * ch - 1)) AS j
      FROM p
    ), raws AS (
      -- raw is the sample's unsigned residue; the stored int16 is
      -- v = raw - 32768, whose little-endian bytes come from the
      -- two's-complement pattern u = (raw + 32768) % 65536
      SELECT doc_id, n_frames, ch, rate, j,
             (doc_id * {_WAV_A} + j * {_WAV_B} + {_WAV_C}) % 65536 AS raw,
             ((doc_id * {_WAV_A} + j * {_WAV_B} + {_WAV_C}) % 65536
              + 32768) % 65536 AS u
      FROM s
    ), agg AS (
      SELECT doc_id,
             ANY_VALUE(n_frames) AS n_frames,
             ANY_VALUE(ch) AS ch,
             ANY_VALUE(rate) AS rate,
             ANY_VALUE(n_frames * ch * 2) AS data_bytes,
             CAST(SUM(u % 256 + u // 256) AS BIGINT) AS data_sum,
             MIN(CASE WHEN j % ch = 0 THEN raw - 32768 END) AS ch0_min,
             MAX(CASE WHEN j % ch = 0 THEN raw - 32768 END) AS ch0_max,
             CAST(SUM(CASE WHEN j % ch = 0 THEN raw - 32768 ELSE 0 END)
                  AS BIGINT) AS ch0_sum,
             CAST(SUM(CASE WHEN ch = 2 AND j % ch = 1 THEN raw - 32768
                           ELSE 0 END) AS BIGINT) AS ch1_sum,
             MIN(CASE WHEN j = 0 THEN u % 256 END) AS first_lo,
             MIN(CASE WHEN j = 0 THEN u // 256 END) AS first_hi
      FROM raws GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(data_bytes AS BIGINT) AS data_bytes,
           CAST(1371
                + {_wav_le4('36 + data_bytes')}
                + 16 + 1 + ch
                + {_wav_le4('rate')}
                + {_wav_le4('rate * ch * 2')}
                + ch * 2 + 16
                + {_wav_le4('data_bytes')}
                + data_sum AS BIGINT) AS byte_sum,
           CAST(first_lo AS BIGINT) AS first_lo,
           CAST(first_hi AS BIGINT) AS first_hi,
           CAST(ch0_min AS BIGINT) AS ch0_min,
           CAST(ch0_max AS BIGINT) AS ch0_max,
           ch0_sum, ch1_sum
    FROM agg ORDER BY doc_id
    """,
    tags=("multimodal", "llm"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, end to end and REAL: a binary audio column
    is synthesized as genuine WAV containers (RIFF header + 16-bit LE
    PCM, 1-2 interleaved channels, per-doc sample rate), then a
    chunk-walking stdlib parser — not a fixed-offset peek — recovers
    the format fields and computes per-channel sample statistics, all
    Arrow-batched through mapInPandas.

    The DuckDB oracle re-derives EVERY byte independently: PCM samples
    from the shared integer recurrence, and the whole-payload byte sum
    from the little-endian byte decomposition of each header field —
    so an encoder/decoder pair that agreed on a wrong layout (swapped
    endianness, shifted offsets) still fails the hash. first_lo/
    first_hi probe the first data bytes positionally.

    Scale shape: both stages are per-row Arrow batches (no shuffle
    until the final presentation sort); a production decoder for real
    audio swaps only the parser body. Parity with the reference's
    LoaderFunc stage (jobs.go:31-42 — bytes in, typed rows out).
    """
    import struct

    import numpy as np
    import pandas as pd

    d = t(spark, sf_dir, "documents").select("doc_id")

    def synth_batches(batches):
        for pdf in batches:
            yield synth_wav_pdf(pdf)

    def decode_batches(batches):
        for pdf in batches:
            rows = [
                decode_wav_payload(doc_id, b)
                for doc_id, b in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_channels", "sample_rate", "n_frames",
                    "data_bytes", "byte_sum", "first_lo", "first_hi",
                    "ch0_min", "ch0_max", "ch0_sum", "ch1_sum",
                ],
            )

    schema = (
        "doc_id long, n_channels long, sample_rate long, n_frames long, "
        "data_bytes long, byte_sum long, first_lo long, first_hi long, "
        "ch0_min long, ch0_max long, ch0_sum long, ch1_sum long"
    )
    return (
        d.mapInPandas(
            lambda batches: decode_batches(synth_batches(batches)),
            schema=schema,
        )
    )


# --------------------------------------------------------------------
# Multimodal frame sampling (video-style binary → sampled frames).
# --------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(i*32 + 1 AS BIGINT), 32)) AS frame_md5
    FROM documents, (SELECT unnest(range(0, 64)) AS i)
    WHERE i % 4 = 0 AND (i + 1) * 32 <= len(text)
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "llm", "udx"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a video-shaped binary column: the payload is
    treated as fixed-width (32-byte) frames; every 4th complete frame
    is extracted by an Arrow-batched ``mapInPandas`` decoder emitting
    (doc_id, frame_idx, frame checksum). A real codec only replaces
    the slice with a decode call — the schema, batch iteration, and
    one-row→many-frames fan-out are the production plumbing, and
    because the fake frames are deterministic byte slices the whole
    path is hash-gated against the SQL oracle (no rows-only waiver).

    Scale shape: sampling is row-local inside the Arrow batch — no
    shuffle, no explode through the JVM; output rows are a strided
    subset so downstream size is len/stride, decided before any heavy
    decode work runs.
    """
    import hashlib

    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    FRAME, STRIDE, MAX_FRAMES = 32, 4, 64

    def sample_frames(batches):
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # NULL blob: no frames (a real decoder
                    # skips null payloads; bytes(None) raised —
                    # r9 text-null probe)
                # frame unit is CODE POINTS of the decoded payload
                # (r10 unicode axis): byte-window slicing of multibyte
                # text splits characters mid-sequence and the oracle
                # cannot md5 invalid-UTF-8 byte slices (DuckDB md5 is
                # VARCHAR-only); each frame's checksum is the md5 of
                # the slice's UTF-8 re-encoding on both sides
                t = bytes(payload).decode("utf-8")
                n = min(len(t) // FRAME, MAX_FRAMES)
                for k in range(0, n, STRIDE):
                    ids.append(doc_id)
                    idxs.append(k)
                    sums.append(
                        hashlib.md5(
                            t[k * FRAME:(k + 1) * FRAME].encode("utf-8")
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": sums}
            )

    return d.mapInPandas(
        sample_frames, schema="doc_id long, frame_idx long, frame_md5 string"
    )


_FRAME = 16  # audio energy window, in per-channel samples


def _decode_wav_batch(pdf):
    """One Arrow batch of (doc_id, payload) WAV containers → (ids,
    chs, samples, s_off, n0): the doc ids and channel counts, every
    doc's PCM concatenated as int64, each doc's first sample offset
    (plus the total) and its channel-0 sample count. The chunk walk
    stays per doc; everything after it is whole-batch numpy."""
    import numpy as np

    ids_l, chs_l, chunks = [], [], []
    for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
        doc_id = int(doc_id)
        ch, _rate, data = parse_wav(doc_id, bytes(b))
        ids_l.append(doc_id)
        chs_l.append(ch)
        chunks.append(data)
    ids = np.array(ids_l, dtype=np.int64)
    chs = np.array(chs_l, dtype=np.int64)
    samples = np.frombuffer(b"".join(chunks), dtype="<i2").astype(np.int64)
    n_samp = np.array([len(c) // 2 for c in chunks], dtype=np.int64)
    s_off = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_samp, out=s_off[1:])
    return ids, chs, samples, s_off, (n_samp + chs - 1) // chs


def _python_stage_partitions(spark: SparkSession) -> int:
    """Task count for Arrow/Python stages over the toy corpus: match
    the session's shuffle sizing (per-task Python dispatch costs
    ~15-20 ms, so more tasks than shuffle partitions is a net loss at
    this data volume)."""
    try:
        return max(2, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except Exception:
        return 8


# --------------------------------------------------------------------
# Audio: per-frame energy over decoded channel-0 PCM, top-2 frames.
# --------------------------------------------------------------------
@register(
    "audio_frame_energy_top2",
    f"""
    WITH p AS (
      SELECT doc_id, 50 + doc_id % 77 AS n_samp, 1 + doc_id % 2 AS ch
      FROM documents
    ), s AS (
      SELECT doc_id, ch, unnest(generate_series(0, n_samp - 1)) AS i
      FROM p
    ), v AS (
      SELECT doc_id, i // {_FRAME} AS frame_idx,
             (doc_id * {_WAV_A} + (i * ch) * {_WAV_B} + {_WAV_C}) % 65536
               - 32768 AS val
      FROM s
    ), e AS (
      SELECT doc_id, frame_idx,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(val * val) AS BIGINT) AS energy
      FROM v GROUP BY doc_id, frame_idx
    ), rk AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY energy DESC, frame_idx)
             AS BIGINT) AS rk
      FROM e
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           n_samples, energy, rk
    FROM rk WHERE rk <= 2
    ORDER BY doc_id, rk
    """,
    tags=("multimodal", "audio", "llm"),
    order=(),
)
def audio_frame_energy_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction on DECODED samples: synthesize real
    WAV containers, chunk-walk the RIFF structure back to PCM, window
    channel 0 into 16-sample frames, and keep each document's two
    highest-energy frames (sum of squared samples — the standard
    voice-activity/loudness primitive). The DuckDB oracle re-derives
    every sample from the shared recurrence, so a parser that
    misreads channel interleave or frame boundaries fails the hash.

    Scale shape: synth/decode/energy run as ONE row-local Arrow stage
    (the per-doc top-2 selection happens inside the decode batch —
    nothing but finalist rows leave Python); the only shuffle is the
    presentation sort. r11: the synth and decode stages compose
    INSIDE one ``mapInPandas`` — previously each was its own
    MapInPandas node, so every WAV payload crossed the JVM↔Python
    boundary twice (guide §4.1: the bytes a function only hands to
    the next Python function should never transit the JVM). A real
    pipeline whose container bytes already sit in a column starts at
    the decode member of the composition.
    """
    import numpy as np
    import pandas as pd

    # the toy corpus is one parquet file → one scan task; spread the
    # doc_id seed so BOTH Python stages run task-parallel, sized like
    # a shuffle stage (more tasks than that just multiplies Python
    # dispatch overhead; a real multi-file corpus arrives
    # pre-partitioned and skips this)
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        for pdf in batches:
            yield synth_wav_pdf(pdf)

    def frame_energy(batches):
        # r12 (guide §4.2): per-container header walk stays per doc
        # (the parser IS the operator); all PCM math — channel-0
        # extraction, squared-sample frame sums, top-2 selection —
        # runs ONCE per batch on concatenated arrays. Frame energies
        # are exact (integer weights ≤ 16·32768² ≈ 1.7e10 < 2^53, so
        # the float64 bincount accumulates them exactly).
        for pdf in batches:
            if not len(pdf):
                continue
            ids, chs, samples, s_off, n0 = _decode_wav_batch(pdf)
            # channel-0 sample positions: s_off[d] + k*ch_d
            o0 = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(n0, out=o0[1:])
            kk = np.arange(o0[-1], dtype=np.int64) - np.repeat(o0[:-1], n0)
            ch0 = samples[np.repeat(s_off[:-1], n0) + kk * np.repeat(chs, n0)]
            # global frame ids (frames never span docs)
            f_local = kk // _FRAME
            nf = (n0 + _FRAME - 1) // _FRAME
            f_off = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(nf, out=f_off[1:])
            gframe = np.repeat(f_off[:-1], n0) + f_local
            energy = np.bincount(
                gframe, weights=(ch0 * ch0).astype(np.float64),
                minlength=f_off[-1],
            ).astype(np.int64)
            counts = np.bincount(gframe, minlength=f_off[-1])
            doc_of_frame = np.repeat(np.arange(len(ids)), nf)
            frame_local = (
                np.arange(f_off[-1], dtype=np.int64)
                - np.repeat(f_off[:-1], nf)
            )
            # per doc: energy desc, frame asc; take the first 2
            order = np.lexsort((frame_local, -energy, doc_of_frame))
            d_s = doc_of_frame[order]
            first = np.empty(len(d_s), dtype=bool)
            if len(d_s):
                first[0] = True
                first[1:] = d_s[1:] != d_s[:-1]
            pos = np.arange(len(d_s))
            rk = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
            keep = order[rk <= 2]
            yield pd.DataFrame(
                {
                    "doc_id": ids[doc_of_frame[keep]],
                    "frame_idx": frame_local[keep],
                    "n_samples": counts[keep],
                    "energy": energy[keep],
                    "rk": rk[rk <= 2],
                }
            )

    def synth_then_energy(batches):
        yield from frame_energy(synth(batches))

    schema = (
        "doc_id long, frame_idx long, n_samples long, energy long, rk long"
    )
    # no presentation orderBy (r12): with no shuffle between the Arrow
    # stage and a global sort, the range-exchange boundary sampling
    # job re-executes the ENTIRE synth+decode stage a second time
    # (result SET unchanged; oracle twin keeps its ORDER BY; harness
    # compares order-insensitively)
    return d.mapInPandas(synth_then_energy, schema=schema)


# --------------------------------------------------------------------
# Image: real PPM (P6) decode + per-channel sums + 2×2 avg downsample.
# --------------------------------------------------------------------
def synth_ppm_pdf(pdf):
    """Synthesize one Arrow batch of PPM/P6 payloads (header + RGB
    bytes from the shared recurrence) — the image corpus the decode
    queries parse. r12: one vectorized recurrence pass over the
    batch's concatenated pixel index; per doc only the header format
    + byte slice. Byte-identical payloads."""
    import numpy as np
    import pandas as pd

    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    w = 8 + ids % 9
    h = 6 + ids % 7
    n = w * h * 3
    off = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    q = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], n)
    dd = np.repeat(ids, n)
    buf = ((dd * _WAV_A + q * _WAV_B + _WAV_C) % 256).astype(
        np.uint8
    ).tobytes()
    payloads = [
        f"P6\n{w[i]} {h[i]}\n255\n".encode("ascii")
        + buf[off[i] : off[i + 1]]
        for i in range(len(ids))
    ]
    return pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def parse_ppm_header(doc_id, b):
    """Token-walking PPM/P6 header parse → (width, height, raw pixel
    bytes). Validates magic, maxval and payload length; raises on
    corruption. The batch-vectorized decoders (r12) use this to keep
    the real per-container parse while doing pixel math across the
    whole Arrow batch."""
    if b[:2] != b"P6":
        raise ValueError(f"doc {doc_id}: not a P6 PPM payload")
    idx, vals = 2, []
    while len(vals) < 3:
        while idx < len(b) and b[idx : idx + 1] in (b" ", b"\t", b"\r", b"\n"):
            idx += 1
        start = idx
        while idx < len(b) and b[idx : idx + 1] not in (
            b" ", b"\t", b"\r", b"\n",
        ):
            idx += 1
        if start == idx:
            raise ValueError(f"doc {doc_id}: truncated PPM header")
        vals.append(int(b[start:idx]))
    idx += 1  # exactly one whitespace byte after maxval
    w, h, maxv = vals
    if maxv != 255:
        raise ValueError(f"doc {doc_id}: unsupported maxval {maxv}")
    data = b[idx:]
    if len(data) != w * h * 3:
        raise ValueError(
            f"doc {doc_id}: payload {len(data)} != {w}*{h}*3"
        )
    return w, h, data


def parse_ppm(doc_id, b):
    """Token-walking PPM/P6 parse → (width, height, pixel ndarray).
    Validates magic, maxval and payload length; raises on corruption."""
    import numpy as np

    w, h, data = parse_ppm_header(doc_id, b)
    arr = np.frombuffer(data, np.uint8).reshape(h, w, 3).astype(np.int64)
    return w, h, arr


@register(
    "image_decode_downsample",
    f"""
    WITH p AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
      FROM documents
    ), fullpx AS (
      SELECT doc_id, unnest(generate_series(0, w * h * 3 - 1)) AS q
      FROM p
    ), fb AS (
      SELECT doc_id, q % 3 AS c,
             (doc_id * {_WAV_A} + q * {_WAV_B} + {_WAV_C}) % 256 AS b
      FROM fullpx
    ), sums AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c = 0 THEN b ELSE 0 END) AS BIGINT) AS r_sum,
             CAST(SUM(CASE WHEN c = 1 THEN b ELSE 0 END) AS BIGINT) AS g_sum,
             CAST(SUM(CASE WHEN c = 2 THEN b ELSE 0 END) AS BIGINT) AS b_sum
      FROM fb GROUP BY doc_id
    ), pooldims AS (
      SELECT doc_id, w, (w - w % 2) // 2 AS pw, (h - h % 2) // 2 AS ph
      FROM p
    ), pk AS (
      SELECT doc_id, w, pw,
             unnest(generate_series(0, ph * pw * 3 - 1)) AS k
      FROM pooldims
    ), pc AS (
      SELECT doc_id, w,
             k // (pw * 3) AS i, (k % (pw * 3)) // 3 AS j, k % 3 AS c
      FROM pk
    ), pv AS (
      SELECT doc_id, i, j, c,
             ( (doc_id * {_WAV_A} + (((2*i) * w + 2*j) * 3 + c)
                  * {_WAV_B} + {_WAV_C}) % 256
             + (doc_id * {_WAV_A} + (((2*i) * w + 2*j + 1) * 3 + c)
                  * {_WAV_B} + {_WAV_C}) % 256
             + (doc_id * {_WAV_A} + (((2*i + 1) * w + 2*j) * 3 + c)
                  * {_WAV_B} + {_WAV_C}) % 256
             + (doc_id * {_WAV_A} + (((2*i + 1) * w + 2*j + 1) * 3 + c)
                  * {_WAV_B} + {_WAV_C}) % 256 ) // 4 AS pb
      FROM pc
    ), chks AS (
      SELECT doc_id,
             CAST(SUM(pb * (1 + (i * 31 + j * 17 + c * 7) % 97)) AS BIGINT)
               AS down_checksum
      FROM pv GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           r_sum, g_sum, b_sum, down_checksum
    FROM p JOIN sums USING (doc_id) JOIN chks USING (doc_id)
    ORDER BY p.doc_id
    """,
    tags=("multimodal", "image", "llm"),
    order=(),
)
def image_decode_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + resize, end to end and REAL: binary PPM (P6)
    containers are synthesized per document (header + raw RGB bytes
    from the shared recurrence), then a token-walking parser recovers
    dimensions and pixels, computes per-channel byte sums, and
    average-pools 2×2 blocks (integer floor — the deterministic
    'resize' step), emitting a position-weighted checksum of the
    downsampled image so a transposed/shifted pool layout fails the
    hash. The DuckDB oracle re-derives every pixel and pooled block
    independently.

    Scale shape: synth/decode/pool compose into ONE row-local Arrow
    stage — no shuffle before the presentation sort; image bytes
    never leave their partition, and (r11) never round-trip through
    the JVM between the synth and decode members (they used to be two
    MapInPandas nodes, shipping every PPM payload across the Python
    boundary twice). A real JPEG/PNG path swaps the parser body for
    Pillow inside the same ``mapInPandas`` contract.
    """
    import numpy as np
    import pandas as pd

    # single-file toy scan → repartition so both Python stages are
    # task-parallel (see audio_frame_energy_top2)
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield synth_ppm_pdf(pdf)

    def decode_pool(batches):
        # r12 (guide §4.2): per-container header parse stays per doc;
        # channel sums and the pooled checksum vectorize across the
        # batch's concatenated pixel stream. The pooled gather uses
        # index arithmetic identical to the per-doc slicing; all
        # bincount weight magnitudes < 2^53, so the float64 partial
        # sums are exact integers.
        for pdf in batches:
            if not len(pdf):
                continue
            ids_l, ws_l, hs_l, chunks = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                w, h, data = parse_ppm_header(doc_id, bytes(b))
                ids_l.append(doc_id)
                ws_l.append(w)
                hs_l.append(h)
                chunks.append(data)
            ids = np.array(ids_l, dtype=np.int64)
            w = np.array(ws_l, dtype=np.int64)
            h = np.array(hs_l, dtype=np.int64)
            vals = np.frombuffer(b"".join(chunks), np.uint8).astype(np.int64)
            n = w * h * 3
            off = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(n, out=off[1:])
            q = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], n)
            # per-(doc, channel) sums in one bincount
            chan = np.bincount(
                np.repeat(np.arange(len(ids)) * 3, n) + q % 3,
                weights=vals.astype(np.float64),
                minlength=3 * len(ids),
            ).astype(np.int64).reshape(len(ids), 3)
            # pooled 2x2 checksum: one flat index space over every
            # (doc, i, j, c) pooled element, 4-point gather
            pw = (w - w % 2) // 2
            ph = (h - h % 2) // 2
            np_el = ph * pw * 3
            poff = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(np_el, out=poff[1:])
            k = (
                np.arange(poff[-1], dtype=np.int64)
                - np.repeat(poff[:-1], np_el)
            )
            pwr = np.repeat(pw, np_el)
            wr = np.repeat(w, np_el)
            dsr = np.repeat(off[:-1], np_el)
            i = k // (pwr * 3)
            j = (k % (pwr * 3)) // 3
            c = k % 3
            p0 = dsr + ((2 * i) * wr + 2 * j) * 3 + c
            p2 = dsr + ((2 * i + 1) * wr + 2 * j) * 3 + c
            pooled = (vals[p0] + vals[p0 + 3] + vals[p2] + vals[p2 + 3]) // 4
            weight = 1 + (i * 31 + j * 17 + c * 7) % 97
            checksum = np.bincount(
                np.repeat(np.arange(len(ids)), np_el),
                weights=(pooled * weight).astype(np.float64),
                minlength=len(ids),
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": w,
                    "height": h,
                    "r_sum": chan[:, 0],
                    "g_sum": chan[:, 1],
                    "b_sum": chan[:, 2],
                    "down_checksum": checksum,
                }
            )

    def synth_then_pool(batches):
        yield from decode_pool(synth(batches))

    schema = (
        "doc_id long, width long, height long, r_sum long, g_sum long, "
        "b_sum long, down_checksum long"
    )
    # no presentation orderBy (r12): the global sort's boundary
    # sampling re-executed the whole synth+decode Arrow stage (no
    # shuffle in between); result SET unchanged, oracle twin keeps
    # its ORDER BY, harness compares order-insensitively
    return d.mapInPandas(synth_then_pool, schema=schema)


# --------------------------------------------------------------------
# Corpus-level pixel-intensity histogram over decoded images.
# --------------------------------------------------------------------
@register(
    "image_pixel_histogram",
    f"""
    WITH p AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
      FROM documents
    ), fullpx AS (
      SELECT doc_id, unnest(generate_series(0, w * h * 3 - 1)) AS q
      FROM p
    ), fb AS (
      SELECT q % 3 AS channel,
             ((doc_id * {_WAV_A} + q * {_WAV_B} + {_WAV_C}) % 256) // 32
               AS bin
      FROM fullpx
    )
    SELECT CAST(channel AS BIGINT) AS channel,
           CAST(bin AS BIGINT) AS bin,
           COUNT(*) AS n_pixels
    FROM fb
    GROUP BY channel, bin
    ORDER BY channel, bin
    """,
    tags=("multimodal", "image", "histogram", "llm"),
)
def image_pixel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level pixel-intensity histogram over DECODED images:
    synthesize the PPM containers, parse them with the real
    header-walking decoder, and histogram every pixel byte into 8
    intensity bins per channel — the brightness/contrast profile a
    vision-data pipeline computes before normalization (mean/std
    image stats, exposure skew, dead-channel detection). The DuckDB
    oracle re-derives every pixel from the shared recurrence, so the
    counts must match exactly.

    Scale shape: synth/decode/histogram are row-local Arrow stages
    emitting 24 partial rows per TASK (channel × bin counts reduce
    inside the Python stage before the one tiny shuffle) — image
    bytes never cross the network, which is the only viable layout
    when frames are MB-scale.
    """
    import numpy as np
    import pandas as pd

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield synth_ppm_pdf(pdf)

    def hist_partial(batches):
        # per-TASK partial histogram: 24 rows leave Python per batch,
        # never per image. r12 (guide §4.2): per-container header
        # parse stays per doc; the (channel, bin) histogram is ONE
        # bincount over the batch's concatenated pixel stream.
        for pdf in batches:
            if not len(pdf):
                continue
            chunks = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                _, _, data = parse_ppm_header(int(doc_id), bytes(b))
                chunks.append(data)
            vals = np.frombuffer(b"".join(chunks), np.uint8)
            q = np.concatenate(
                [np.arange(len(c), dtype=np.int64) for c in chunks]
            ) if chunks else np.zeros(0, dtype=np.int64)
            acc = np.bincount(
                (q % 3) * 8 + (vals >> 5), minlength=24
            ).astype(np.int64).reshape(3, 8)
            ch, bins = np.indices(acc.shape)
            yield pd.DataFrame(
                {
                    "channel": ch.ravel(),
                    "bin": bins.ravel(),
                    "n_pixels": acc.ravel(),
                }
            )

    return (
        d.mapInPandas(
            lambda batches: hist_partial(synth(batches)),
            schema="channel long, bin long, n_pixels long",
        )
        .groupBy("channel", "bin")
        .agg(F.sum("n_pixels").cast("long").alias("n_pixels"))
    )


# --------------------------------------------------------------------
# Audio decimation: decode → channel-0 → 2:1 block-sum downsample.
# --------------------------------------------------------------------
@register(
    "audio_decimate_2to1",
    f"""
    WITH p AS (
      SELECT doc_id, 50 + doc_id % 77 AS n_frames, 1 + doc_id % 2 AS ch
      FROM documents
    ), outk AS (
      SELECT doc_id, ch,
             unnest(generate_series(0, n_frames // 2 - 1)) AS k
      FROM p
    ), y AS (
      SELECT doc_id, k,
             ((doc_id * {_WAV_A} + (2 * k) * ch * {_WAV_B} + {_WAV_C})
                % 65536 - 32768)
             + ((doc_id * {_WAV_A} + (2 * k + 1) * ch * {_WAV_B} + {_WAV_C})
                % 65536 - 32768) AS v
      FROM outk
    )
    SELECT doc_id,
           COUNT(*) AS n_out,
           CAST(SUM(v * (1 + k % 97)) AS BIGINT) AS checksum,
           CAST(MAX(abs(v)) AS BIGINT) AS peak
    FROM y
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "audio", "dsp", "llm"),
    order=(),
)
def audio_decimate_2to1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decimation on decoded PCM: synthesize the WAV corpus,
    parse it with the real RIFF chunk walker, take channel 0, and
    downsample 2:1 by summing sample pairs (the anti-aliased
    production version convolves a low-pass FIR first — the plumbing
    is identical), emitting the output length, a position-weighted
    checksum of the decimated signal, and its peak amplitude. The
    oracle re-derives channel-0 samples from the shared recurrence
    (channel-0 frame i sits at interleaved index i·ch).

    Scale shape: synth/decode/decimate are row-local Arrow stages;
    the decimated payload reduces to three numbers per doc inside
    Python, so only the summary shuffles. Sample-rate conversion at
    fleet scale is exactly this map over the audio shards.
    """
    import numpy as np
    import pandas as pd

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        for pdf in batches:
            yield synth_wav_pdf(pdf)

    def decimate(batches):
        # r12 (guide §4.2): per-container chunk walk stays per doc;
        # channel-0 extraction, pair sums, checksum and peak run once
        # per batch on concatenated arrays (bincount weights < 2^53 —
        # exact float64 integer sums)
        for pdf in batches:
            if not len(pdf):
                continue
            ids, chs, samples, s_off, n0 = _decode_wav_batch(pdf)
            n_out = n0 // 2
            oo = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(n_out, out=oo[1:])
            k = np.arange(oo[-1], dtype=np.int64) - np.repeat(oo[:-1], n_out)
            base = np.repeat(s_off[:-1], n_out) + (2 * k) * np.repeat(
                chs, n_out
            )
            y = samples[base] + samples[base + np.repeat(chs, n_out)]
            docr = np.repeat(np.arange(len(ids)), n_out)
            checksum = np.bincount(
                docr,
                weights=(y * (1 + k % 97)).astype(np.float64),
                minlength=len(ids),
            ).astype(np.int64)
            ay = np.abs(y)
            peak = np.zeros(len(ids), dtype=np.int64)
            nz = n_out > 0
            if nz.any():
                peak[nz] = np.maximum.reduceat(ay, oo[:-1][nz])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_out": n_out,
                    "checksum": checksum,
                    "peak": peak,
                }
            )

    # no presentation orderBy (r12): the global sort's boundary
    # sampling re-executed the whole synth+decode Arrow stage (no
    # shuffle in between); result SET unchanged, oracle twin keeps
    # its ORDER BY, harness compares order-insensitively
    return d.mapInPandas(
        lambda batches: decimate(synth(batches)),
        schema="doc_id long, n_out long, checksum long, peak long",
    )


# --------------------------------------------------------------------
# Image near-duplicate detection: dHash over decoded images (round 5).
# --------------------------------------------------------------------
_DH_W, _DH_H = 18, 16  # fixed synth size: pooled grid 9x8 -> 64 bits
_DH_NOISE_MOD = 29  # variant noise: bytes at q % 29 == r get +8r
_DH_MAX_HAM = 10  # near-dup verdict threshold (of 64 bits)


def _dh_byte_sql(q: str) -> str:
    """Oracle byte value at linear pixel-byte index ``q`` for a doc in
    group g with variant r: a LOW-FREQUENCY quadratic surface whose
    center/curvature are group-dependent (smooth large-scale structure
    — the regime dHash is designed for; a white-noise image has no
    stable gradients for ANY perceptual hash), plus sparse per-variant
    noise. The group term is multiplicative (curvatures) and
    positional (centers), so distinct groups get structurally
    different images, not offset copies with identical gradients."""
    x = f"((({q}) // 3) % {_DH_W})"
    y = f"((({q}) // 3) // {_DH_W})"
    c = f"(({q}) % 3)"
    base = (
        f"(((g % 5 + 1) * ({x} - g % {_DH_W}) * ({x} - g % {_DH_W})"
        f" + (g * 3 % 5 + 1) * ({y} - g * 7 % {_DH_H})"
        f" * ({y} - g * 7 % {_DH_H})"
        f" + {c} * 9 + g * {_WAV_A}) % 256)"
    )
    return (
        f"(CASE WHEN r > 0 AND ({q}) % {_DH_NOISE_MOD} = r"
        f" THEN ({base} + 8 * r) % 256 ELSE {base} END)"
    )


def _dh_gray_sql(y: str, x: str) -> str:
    qb = f"((({y}) * {_DH_W} + ({x})) * 3"
    return (
        f"(({_dh_byte_sql(qb + ' + 0)')} + {_dh_byte_sql(qb + ' + 1)')}"
        f" + {_dh_byte_sql(qb + ' + 2)')}) // 3)"
    )


def _dh_pool_sql() -> str:
    """Pooled grayscale P(i, j) = floor-mean of the 2x2 gray block."""
    g00 = _dh_gray_sql("2 * i", "2 * j")
    g01 = _dh_gray_sql("2 * i", "2 * j + 1")
    g10 = _dh_gray_sql("2 * i + 1", "2 * j")
    g11 = _dh_gray_sql("2 * i + 1", "2 * j + 1")
    return f"(({g00} + {g01} + {g10} + {g11}) // 4)"


@register(
    "image_neardup_dhash",
    f"""
    WITH docs AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents
    ), grid AS (
      SELECT doc_id, k // 9 AS i, k % 9 AS j,
             {_dh_pool_sql()} AS p
      FROM docs, (SELECT unnest(generate_series(0, 71)) AS k)
    ), bits AS (
      SELECT a.doc_id, a.i * 8 + a.j AS k,
             CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
      FROM grid a JOIN grid b
        ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
      WHERE a.j <= 7
    ), bands AS (
      SELECT doc_id, k // 16 AS t,
             CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS bv
      FROM bits GROUP BY doc_id, k // 16
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN t = 0 THEN bv END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN t = 1 THEN bv END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN t = 2 THEN bv END) AS BIGINT) AS b2,
             CAST(SUM(CASE WHEN t = 3 THEN bv END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON b.t = a.t AND b.bv = a.bv AND a.doc_id < b.doc_id
    ), ham AS (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
                + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
                AS BIGINT) AS hamming
      FROM cand c
      JOIN sig x ON x.doc_id = c.doc_a
      JOIN sig y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, hamming FROM ham
    WHERE hamming <= {_DH_MAX_HAM}
    ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "image", "dedup", "llm"),
)
def image_neardup_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate detection over DECODED images:
    dHash (difference hash — the gradient-sign fingerprint used for
    image dedup at corpus scale) computed from real PPM/P6 payloads,
    LSH-banded for candidate generation, Hamming-verified on the full
    64-bit hash. Documents synthesize one image per doc: a smooth
    quadratic-surface base image shared by each GROUP of 4 docs
    (group-dependent curvature + center — structurally distinct
    images, not offset copies) plus a sparse per-variant noise
    pattern — so true near-duplicate groups exist and the operator
    must find them despite the noise, exactly the JPEG re-encode /
    watermark robustness dHash is used for. At the sf0.01 gate this
    recovers 750/750 planted within-group pairs (all Hamming ≤ 6)
    with ~43 accidental cross-group pairs — real recall, not a
    vacuous self-join.

    Pipeline (all real plumbing): synth P6 container → token-walking
    ``parse_ppm`` decode → integer grayscale ((r+g+b)//3) → 2×2
    floor-mean pool to a 9×8 grid → 64 gradient bits (P[i,j] <
    P[i,j+1]) → 4×16-bit bands. Candidates collide on any band
    (Hamming ≤ {HAM} implies ≥1 clean band by pigeonhole when bits
    differ ≤ 3 per band on average); verify XOR+popcount on the
    banded signature. The oracle re-derives every pixel, pooled
    block, bit, band, and Hamming distance in SQL.

    Scale shape: synth/decode/hash are row-local Arrow stages (image
    bytes never cross the network — only 4 band ints per image leave
    the partition); candidates come from the band equi-join
    (output-linear, like SRP/MinHash); the verify join moves one
    4-int signature row per candidate id.
    """
    import numpy as np
    import pandas as pd

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        # r12 (guide §4.2): every image is the fixed 18x16 size, so
        # the whole batch synthesizes as ONE (docs x pixels) matrix
        # expression; per doc only header + byte slice. Byte-identical
        # payloads.
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            g = (ids // 4)[:, None]
            r = (ids % 4)[:, None]
            q = np.arange(_DH_W * _DH_H * 3, dtype=np.int64)[None, :]
            x = (q // 3) % _DH_W
            y = (q // 3) // _DH_W
            c = q % 3
            px = (
                (g % 5 + 1) * (x - g % _DH_W) ** 2
                + (g * 3 % 5 + 1) * (y - g * 7 % _DH_H) ** 2
                + c * 9
                + g * _WAV_A
            ) % 256
            px = np.where(
                (r > 0) & (q % _DH_NOISE_MOD == r), (px + 8 * r) % 256, px
            )
            buf = px.astype(np.uint8).tobytes()
            header = f"P6\n{_DH_W} {_DH_H}\n255\n".encode("ascii")
            row = _DH_W * _DH_H * 3
            payloads = [
                header + buf[i * row : (i + 1) * row]
                for i in range(len(ids))
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    def dhash(batches):
        # r12 (guide §4.2): per-container header parse stays per doc;
        # gray/pool/bits/bands stack as one (docs, H, W, 3) tensor
        for pdf in batches:
            if not len(pdf):
                continue
            ids_l, chunks = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                w, h, data = parse_ppm_header(doc_id, bytes(b))
                if (w, h) != (_DH_W, _DH_H):
                    raise ValueError(
                        f"doc {doc_id}: unexpected dims {w}x{h}"
                    )
                ids_l.append(doc_id)
                chunks.append(data)
            arr = (
                np.frombuffer(b"".join(chunks), np.uint8)
                .reshape(len(ids_l), _DH_H, _DH_W, 3)
                .astype(np.int64)
            )
            gray = arr.sum(axis=3) // 3
            pooled = (
                gray[:, 0::2, 0::2]
                + gray[:, 0::2, 1::2]
                + gray[:, 1::2, 0::2]
                + gray[:, 1::2, 1::2]
            ) // 4  # (n, 8, 9)
            bits = (pooled[:, :, :-1] < pooled[:, :, 1:]).astype(np.int64)
            flat = bits.reshape(len(ids_l), 64)  # k = i*8 + j
            shifts = np.arange(16, dtype=np.int64)
            out = {"doc_id": np.array(ids_l, dtype=np.int64)}
            for tband in range(4):
                out[f"b{tband}"] = (
                    flat[:, 16 * tband : 16 * tband + 16] << shifts
                ).sum(axis=1)
            yield pd.DataFrame(out)

    sig = (
        d.mapInPandas(
            lambda batches: dhash(synth(batches)),
            schema="doc_id long, b0 long, b1 long, b2 long, b3 long",
        )
        .persist()  # read by the band explode AND both verify sides
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tband).alias("t"),
                        F.col(f"b{tband}").alias("bv"),
                    )
                    for tband in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.t", "e.bv")
    a = bands.select(F.col("doc_id").alias("doc_a"), "t", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"), "t", "bv")
    cand = (
        a.join(b, ["t", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    xa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{tband}").alias(f"xa{tband}") for tband in range(4)],
    )
    xb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{tband}").alias(f"xb{tband}") for tband in range(4)],
    )
    ham = sum(
        F.bit_count(
            F.col(f"xa{tband}").bitwiseXOR(F.col(f"xb{tband}"))
        )
        for tband in range(4)
    )
    return (
        cand.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= _DH_MAX_HAM)
    )


image_neardup_dhash.__doc__ = image_neardup_dhash.__doc__.replace(
    "{HAM}", str(_DH_MAX_HAM)
)


# --------------------------------------------------------------------
# Audio near-duplicate detection: energy-envelope fingerprint (round 5).
# --------------------------------------------------------------------
_AF_N = 512  # samples per clip (mono 16-bit PCM)
_AF_FRAME = 8  # samples per energy frame -> 64 frames, 63 delta bits
_AF_NOISE_MOD = 31  # variant noise: samples at t % 31 == r get +32r
_AF_MAX_HAM = 8  # near-dup verdict threshold (of 63 bits)


def _af_sample_sql(t: str) -> str:
    """Oracle sample value at index ``t`` for group g, variant r: two
    superimposed group-parameterized triangle waves (periods 9-37 and
    13-73 samples — fast enough that 8-sample frame energies vary
    frame to frame, giving the 63-bit fingerprint real entropy) plus
    sparse per-variant noise."""
    p = "(9 + (g * 11) % 29)"
    q = "(13 + (g * 7) % 61)"
    tri1 = f"((g % 9 + 1) * abs((({t}) + g) % {p} - {p} // 2) * 16)"
    tri2 = f"(abs((({t}) * 2 + g * 5) % {q} - {q} // 2) * 48)"
    return (
        f"({tri1} + {tri2} + (CASE WHEN r > 0 AND ({t}) % {_AF_NOISE_MOD}"
        f" = r THEN 32 * r ELSE 0 END))"
    )


_AF_S = _af_sample_sql(f"f * {_AF_FRAME} + k")


@register(
    "audio_neardup_energyprint",
    f"""
    WITH docs AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents
    ), en AS (
      SELECT doc_id, f, CAST(SUM({_AF_S} * {_AF_S}) AS BIGINT) AS e
      FROM docs,
           (SELECT unnest(generate_series(0, {_AF_N // _AF_FRAME - 1}))
              AS f),
           (SELECT unnest(generate_series(0, {_AF_FRAME - 1})) AS k)
      GROUP BY doc_id, f
    ), bits AS (
      SELECT a.doc_id, a.f AS k,
             CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
      FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
      WHERE a.f <= {_AF_N // _AF_FRAME - 2}
    ), bands AS (
      SELECT doc_id, k // 16 AS t,
             CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS bv
      FROM bits GROUP BY doc_id, k // 16
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN t = 0 THEN bv ELSE 0 END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN t = 1 THEN bv ELSE 0 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN t = 2 THEN bv ELSE 0 END) AS BIGINT) AS b2,
             CAST(SUM(CASE WHEN t = 3 THEN bv ELSE 0 END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON b.t = a.t AND b.bv = a.bv AND a.doc_id < b.doc_id
    ), ham AS (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
                + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
                AS BIGINT) AS hamming
      FROM cand c
      JOIN sig x ON x.doc_id = c.doc_a
      JOIN sig y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, hamming FROM ham
    WHERE hamming <= {_AF_MAX_HAM}
    ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "audio", "dedup", "llm"),
)
def audio_neardup_energyprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-duplicate detection over DECODED PCM: an
    energy-envelope fingerprint (the shape acoustic-fingerprint
    systems reduce to once spectra are quantized — frame energies →
    delta signs → banded bits) computed from real RIFF/WAV payloads,
    LSH-banded for candidates, Hamming-verified. Each group of 4 docs
    shares a two-triangle-wave clip (group-dependent periods/phases/
    amplitude); variants add sparse sample noise — the re-encode /
    level-shift robustness an audio dedup pass needs. At the sf0.01
    gate this recovers 750/750 planted within-group pairs with ~128
    accidental cross pairs (structurally similar envelopes).

    Pipeline (real plumbing): synth RIFF container → chunk-walking
    ``parse_wav`` decode → 8-sample frame energies (exact int64) →
    63 delta-sign bits → 4×16-bit bands → band equi-join → XOR+
    popcount verify (≤ {HAM} of 63). The oracle re-derives every
    sample, frame energy, bit, band, and Hamming distance in SQL.

    Scale shape: synth/decode/fingerprint are row-local Arrow stages
    (audio bytes never cross the network — 4 band ints per clip do);
    candidates come from the band equi-join (output-linear); the
    verify join moves one signature row per candidate id.
    """
    import struct

    import numpy as np
    import pandas as pd

    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(_python_stage_partitions(spark))
    )

    def synth(batches):
        # r12 (guide §4.2): fixed 512-sample mono clips — the whole
        # batch synthesizes as ONE (docs x samples) matrix expression;
        # per doc only the header pack + byte slice. Byte-identical
        # payloads.
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            g = (ids // 4)[:, None]
            r = (ids % 4)[:, None]
            tt = np.arange(_AF_N, dtype=np.int64)[None, :]
            p = 9 + (g * 11) % 29
            q = 13 + (g * 7) % 61
            s = (g % 9 + 1) * np.abs((tt + g) % p - p // 2) * 16 + (
                np.abs((tt * 2 + g * 5) % q - q // 2) * 48
            )
            s = np.where((r > 0) & (tt % _AF_NOISE_MOD == r), s + 32 * r, s)
            buf = s.astype("<i2").tobytes()
            row = _AF_N * 2
            payloads = []
            for i in range(len(ids)):
                pcm = buf[i * row : (i + 1) * row]
                header = struct.pack(
                    "<4sI4s4sIHHIIHH4sI",
                    b"RIFF", 36 + len(pcm), b"WAVE",
                    b"fmt ", 16, 1, 1, 8000, 16000, 2, 16,
                    b"data", len(pcm),
                )
                payloads.append(header + pcm)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    def fingerprint(batches):
        # r12 (guide §4.2): per-container chunk walk stays per doc;
        # frame energies / delta bits / bands stack as (docs, frames)
        for pdf in batches:
            if not len(pdf):
                continue
            ids_l, chunks = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                ch, rate, data = parse_wav(doc_id, bytes(b))
                if len(data) != _AF_N * 2:
                    raise ValueError(
                        f"doc {doc_id}: unexpected clip length"
                    )
                ids_l.append(doc_id)
                chunks.append(data)
            s = (
                np.frombuffer(b"".join(chunks), dtype="<i2")
                .astype(np.int64)
                .reshape(len(ids_l), _AF_N)
            )
            e = (s * s).reshape(len(ids_l), -1, _AF_FRAME).sum(axis=2)
            bits = (e[:, :-1] < e[:, 1:]).astype(np.int64)  # (n, 63)
            out = {"doc_id": np.array(ids_l, dtype=np.int64)}
            for tband in range(4):
                chunk = bits[:, 16 * tband : 16 * tband + 16]
                shifts = np.arange(chunk.shape[1], dtype=np.int64)
                out[f"b{tband}"] = (chunk << shifts).sum(axis=1)
            yield pd.DataFrame(out)

    sig = (
        d.mapInPandas(
            lambda batches: fingerprint(synth(batches)),
            schema="doc_id long, b0 long, b1 long, b2 long, b3 long",
        )
        .persist()  # read by the band explode AND both verify sides
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tband).alias("t"),
                        F.col(f"b{tband}").alias("bv"),
                    )
                    for tband in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.t", "e.bv")
    a = bands.select(F.col("doc_id").alias("doc_a"), "t", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"), "t", "bv")
    cand = (
        a.join(b, ["t", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    xa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{tband}").alias(f"xa{tband}") for tband in range(4)],
    )
    xb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{tband}").alias(f"xb{tband}") for tband in range(4)],
    )
    ham = sum(
        F.bit_count(
            F.col(f"xa{tband}").bitwiseXOR(F.col(f"xb{tband}"))
        )
        for tband in range(4)
    )
    return (
        cand.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= _AF_MAX_HAM)
    )


audio_neardup_energyprint.__doc__ = (
    audio_neardup_energyprint.__doc__.replace("{HAM}", str(_AF_MAX_HAM))
)


# --------------------------------------------------------------------
# Binary header parsing (multimodal metadata without a decoder).
# --------------------------------------------------------------------
@register(
    "binary_header_parse",
    """
    SELECT source,
           COUNT(*) AS n_blobs,
           -- a NULL n_chars synthesizes no blob, hence no magic:
           -- COUNT(n_chars), not COUNT(*) (r9 null-measures sweep)
           COUNT(n_chars) AS n_valid_magic,
           CAST(SUM(16 + n_chars % 4080) AS BIGINT) AS sum_width,
           -- reduce mod-first so n_chars*7 can never overflow int64 (r10)
           CAST(SUM(16 + ((n_chars % 4080) * 7) % 4080) AS BIGINT) AS sum_height
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("multimodal", "binary", "llm"),
)
def binary_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header metadata extraction WITHOUT an image library:
    synthesize a PNG-style binary header (magic + 4-byte big-endian
    width/height) per document, then parse magic/width/height back by
    hex-slicing the BINARY column — the cheap metadata pass a
    multimodal pipeline runs on billions of blobs before deciding
    what to actually decode. All row-local string/binary codegen; the
    oracle recomputes the fields arithmetically, so the binary
    round-trip is what's verified."""
    d = t(spark, sf_dir, "documents")
    width = (F.lit(16) + F.col("n_chars") % 4080).cast("long")
    # mod-first: n_chars*7 overflows int64 for 2^62-scale counts (r10)
    height = (F.lit(16) + (F.col("n_chars") % 4080) * 7 % 4080).cast("long")
    blob = F.unhex(
        F.concat(
            F.lit("89504E47"),
            F.lpad(F.conv(width.cast("string"), 10, 16), 8, "0"),
            F.lpad(F.conv(height.cast("string"), 10, 16), 8, "0"),
        )
    )
    hexed = F.hex(blob)
    parsed = d.select(
        "source",
        (F.substring(hexed, 1, 8) == "89504E47").alias("magic_ok"),
        F.conv(F.substring(hexed, 9, 8), 16, 10).cast("long").alias("w"),
        F.conv(F.substring(hexed, 17, 8), 16, 10).cast("long").alias("h"),
    )
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(F.when(F.col("magic_ok"), 1).otherwise(0)).alias(
                "n_valid_magic"
            ),
            F.sum("w").alias("sum_width"),
            F.sum("h").alias("sum_height"),
        )
    )
