"""Multimodal column operators: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: the media itself is an opaque ``binary``
column (or an object-store URI for >~100 MB blobs) riding next to a typed
metadata struct; all per-item compute happens in Arrow-batched Pandas functions
via ``mapInPandas`` so bytes never round-trip through the driver and partitions
stream batch-by-batch (bounded memory regardless of corpus size).

The actual codec step (image decode / resize, audio resample, video frame
sampling) needs libraries not present in this container — it is STUBBED behind
``decode_stub`` (deterministic fake: byte-level stats standing in for pixel
stats). The Spark-side plumbing — schema, batch iteration, partitioning, UDF
signatures — is real and tested; swapping the stub for PIL/libav is a one-function
change inside the pandas iterator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from librarian_spark.operators.registry import query
from librarian_spark.scratch import cache_dir
from librarian_spark.sources.batch import fan_out
from librarian_spark.sources.batch import load_table as _t

__all__ = [
    "ingest_binary",
    "extract_features",
    "decode_stub",
    "decode_image",
    "resize_images",
]

# metadata struct carried with every payload
_META_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("source_uri", T.StringType(), True),
    ]
)

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("byte_hist", T.ArrayType(T.LongType()), True),
        T.StructField("decoder", T.StringType(), False),
    ]
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decoder (stands in for PIL.Image.open / librosa.load).

    Real implementation would raise on codec errors; the stub computes byte-level
    statistics so tests exercise real data flow through the same signature.
    Swap body with e.g.::

        img = PIL.Image.open(io.BytesIO(payload))   # requires pillow
        ...
        raise NotImplementedError("image decode requires pillow")  # if absent
    """
    import numpy as np

    if payload is None:
        return {"n_bytes": 0, "byte_mean": None, "byte_hist": [0] * 16}
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = arr.size
    # integer byte sums are < 2^53, so the float64 mean is exact and identical
    # to a per-byte python loop regardless of summation order
    return {
        "n_bytes": n,
        "byte_mean": (int(arr.sum(dtype=np.int64)) / n) if n else None,
        "byte_hist": np.bincount(arr >> 4, minlength=16).tolist(),
    }


def decode_image(payload: bytes) -> dict:
    """REAL image decode, gated on pillow availability (the swap point
    ``decode_stub``'s docstring promises): returns pixel-level metadata when
    the dependency exists, raises a clearly-marked NotImplementedError when
    it doesn't — never a silent fake. The container this repo is developed
    in has no pillow, so tests exercise the gate there and the real path
    wherever pillow is installed (same schema either way)."""
    try:
        from PIL import Image
    except ImportError as e:  # optional-dependency guard, not a stub
        raise NotImplementedError(
            "image decode requires pillow (pip install pillow); byte-level "
            "features are available dependency-free via decode_stub"
        ) from e
    import io

    img = Image.open(io.BytesIO(payload))
    return {"width": img.width, "height": img.height, "mode": img.mode}


def resize_images(df: DataFrame, max_px: int = 64) -> DataFrame:
    """Real thumbnail resize over (doc_id, payload) — the pillow-present twin
    of ``mm_resize``'s byte-decimation stub, with the SAME Spark plumbing:
    Arrow-batched ``mapInPandas``, map-only, bytes never on the driver.
    Executors without pillow fail the task with the decode_image
    remediation message rather than producing fake pixels."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        try:
            from PIL import Image
        except ImportError as e:
            raise NotImplementedError(
                "resize_images requires pillow on the executors"
            ) from e

        for pdf in batches:
            ids, ws, hs, thumbs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                img = Image.open(io.BytesIO(payload))
                img.thumbnail((max_px, max_px))
                buf = io.BytesIO()
                img.save(buf, "PNG")
                ids.append(doc_id)
                ws.append(img.width)
                hs.append(img.height)
                thumbs.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "thumb": pd.Series(thumbs, dtype="object"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        op, schema="doc_id long, width long, height long, thumb binary"
    )


def ingest_binary(spark: SparkSession, sf: str) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct).

    Uses the documents' utf-8 bytes as a stand-in corpus of binary payloads;
    for real media this is ``spark.read.format("binaryFile")`` (path, length,
    content) or URIs resolved inside mapInPandas.
    """
    d = fan_out(_t(spark, sf, "documents"))
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text-bytes").alias("modality"),
            F.lit("text/plain; charset=utf-8").alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.concat(F.lit("testdata://documents/"), F.col("doc_id")).alias(
                "source_uri"
            ),
        ).alias("meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload) via mapInPandas.

    Each worker receives pandas batches (so per-item python cost is amortized
    over the Arrow transfer, not paid per row via pickle), computes features
    through ``decode_stub``, and yields batches of the declared schema —
    map-only, partition-parallel, no shuffle.
    """

    # NOTE: the worker function must be fully self-contained (no references to
    # module-level names): cloudpickle serializes nested functions by value, but
    # module globals by import path — and `librarian_spark` is not importable on
    # executor Python workers unless the package is shipped. Keeping the decode
    # inline makes the operator deployable on any cluster as-is. The module-level
    # ``decode_stub`` stays the reference implementation tests compare against.
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def decode(payload):
            if payload is None:
                return {"n_bytes": 0, "byte_mean": None, "byte_hist": [0] * 16}
            arr = np.frombuffer(payload, dtype=np.uint8)
            n = arr.size
            return {
                "n_bytes": n,
                "byte_mean": (int(arr.sum(dtype=np.int64)) / n) if n else None,
                "byte_hist": np.bincount(arr >> 4, minlength=16).tolist(),
            }

        for pdf in batches:
            feats = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "byte_mean": [f["byte_mean"] for f in feats],
                    "byte_hist": [f["byte_hist"] for f in feats],
                    "decoder": "stub-v1",
                }
            )

    return df.select("doc_id", "payload").mapInPandas(op, schema=_FEATURE_SCHEMA)


@query(
    "mm_ingest",
    oracle="""
    SELECT doc_id,
           'text-bytes' AS modality,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           'testdata://documents/' || doc_id AS source_uri
    FROM documents
    """,
    doc="Binary-column ingest: payload + typed metadata struct (flattened here "
    "because the oracle compares scalar columns).",
)
def mm_ingest(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf)
    return df.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source_uri").alias("source_uri"),
    )


@query(
    "mm_feature_extract",
    oracle="""
    WITH hx AS (SELECT doc_id, HEX(ENCODE(text)) AS h,
                       OCTET_LENGTH(ENCODE(text)) AS n
                FROM documents),
    codes AS (
      -- UTF-8 PAYLOAD bytes via hex transcription; the high nibble (the
      -- odd hex positions) IS the 16-bucket histogram key (byte >> 4)
      SELECT doc_id, n,
             LIST_TRANSFORM(RANGE(1, n + 1),
               i -> (STRPOS('0123456789ABCDEF',
                            SUBSTR(h, CAST(2*i - 1 AS BIGINT), 1)) - 1) * 16
                  + (STRPOS('0123456789ABCDEF',
                            SUBSTR(h, CAST(2*i AS BIGINT), 1)) - 1)) AS cs,
             LIST_TRANSFORM(RANGE(1, n + 1),
               i -> STRPOS('0123456789ABCDEF',
                           SUBSTR(h, CAST(2*i - 1 AS BIGINT), 1)) - 1) AS hi
      FROM hx)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CASE WHEN n > 0 THEN LIST_SUM(cs) * 1.0 / n END AS byte_mean,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(RANGE(0, 16),
               i -> CAST(COALESCE(LEN(LIST_FILTER(hi, x -> x = i)), 0)
                         AS BIGINT)), ',') AS byte_hist,
           'stub-v1' AS decoder
    FROM codes
    """,
    doc="mapInPandas feature extraction through the stubbed decoder: real Arrow "
    "batch flow, fake codec. The oracle re-derives the stub's statistics over "
    "the UTF-8 payload BYTES via hex transcription (never characters — "
    "non-ASCII docs would diverge; parity is pinned by the degenerate-docs "
    "test) — integer-exact sums, one final IEEE divide — giving the "
    "distributed Arrow path a full value oracle, not just a rows check. The "
    "histogram is emitted comma-joined (scalar column) because the comparison "
    "harness sorts on every output column and chokes on list values.",
)
def mm_feature_extract(spark: SparkSession, sf: str) -> DataFrame:
    feats = extract_features(ingest_binary(spark, sf))
    return feats.select(
        "doc_id",
        "n_bytes",
        "byte_mean",
        F.array_join(
            F.transform(F.col("byte_hist"), lambda x: x.cast("string")), ","
        ).alias("byte_hist"),
        "decoder",
    )


# --------------------------------------------------------------------------
# Frame sampling (video stand-in)
# --------------------------------------------------------------------------

_FRAME_BYTES = 32  # "frame" size in the byte-stream stand-in
_FRAME_EVERY = 2  # keep every 2nd frame


@query(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           CAST(LENGTH(SUBSTRING(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
                                 {_FRAME_BYTES})) AS BIGINT) AS frame_len,
           SUBSTRING(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT), 4) AS frame_head
    FROM (SELECT doc_id, text,
                 UNNEST(RANGE(0, CAST(CEIL(LENGTH(text) / {_FRAME_BYTES}.0)
                                      AS BIGINT))) AS i
          FROM documents)
    WHERE i % {_FRAME_EVERY} = 0
    """,
    doc=f"Frame sampling over a binary payload (every {_FRAME_EVERY}nd "
    f"{_FRAME_BYTES}-byte frame — the video-frame-sampling access pattern with "
    "the codec stubbed to byte-slicing): Arrow-batched mapInPandas, map-only, "
    "output rows ≈ |frames|/k with bounded per-batch memory. The oracle "
    "slices the same payload as characters (the corpus is ASCII, so byte "
    "offsets ≡ char offsets), proving the distributed slicing against SQL. "
    "A real decoder replaces the slice with PIL/libav frame extraction — "
    "identical schema and batch flow.",
)
def mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fb, fe = _FRAME_BYTES, _FRAME_EVERY
        for pdf in batches:
            ids, idxs, lens, heads = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n = len(payload)
                for i in range(0, (n + fb - 1) // fb, fe):
                    chunk = payload[i * fb : i * fb + fb]
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(chunk))
                    heads.append(chunk[:4].decode("utf-8", errors="replace"))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "frame_head": pd.Series(heads, dtype="object"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        op, schema="doc_id long, frame_idx long, frame_len long, frame_head string"
    )


# --------------------------------------------------------------------------
# Resize / decimation (image stand-in)
# --------------------------------------------------------------------------

_RESIZE_STRIDE = 4  # keep every 4th byte ("pixel decimation")


@query(
    "mm_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(CEIL(LENGTH(text) * 1.0 / {_RESIZE_STRIDE}) AS BIGINT)
             AS n_out_bytes,
           ARRAY_TO_STRING(LIST_TRANSFORM(
               RANGE(1, LENGTH(text) + 1, {_RESIZE_STRIDE}),
               i -> SUBSTRING(text, i, 1)), '') AS resized_head
    FROM documents
    """,
    doc=f"Resize/decimation over a binary payload (every {_RESIZE_STRIDE}th "
    "byte — the image-downsample access pattern with the codec stubbed to a "
    "numpy stride slice): Arrow-batched mapInPandas, map-only, no shuffle, "
    "output bounded at |payload|/stride per row. The oracle rebuilds the same "
    "decimation character-wise in SQL (ASCII corpus ⇒ byte offsets ≡ char "
    "offsets). A real decoder swaps the slice for PIL thumbnail/resize with "
    "identical schema and batch flow; at 100 TB the bytes stream executor-side "
    "batch-by-batch and never visit the driver.",
)
def mm_resize(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        stride = _RESIZE_STRIDE
        for pdf in batches:
            outs = [
                (b"" if p is None else p[::stride]) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_out_bytes": pd.Series(
                        [len(o) for o in outs], dtype="int64"
                    ),
                    "resized_head": [
                        o.decode("utf-8", errors="replace") for o in outs
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        op, schema="doc_id long, n_out_bytes long, resized_head string"
    )


# --------------------------------------------------------------------------
# Frame RMS (audio stand-in)
# --------------------------------------------------------------------------

_AUDIO_FRAME = 64  # bytes per "audio frame"


@query(
    "mm_audio_rms",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, HEX(ENCODE(text)) AS h,
             OCTET_LENGTH(ENCODE(text)) AS n
      FROM documents),
    codes AS (
      -- UTF-8 PAYLOAD bytes via hex transcription (the mm_phash_dedup
      -- idiom): the Spark side frames ingest_binary's encoded bytes, so a
      -- character-based oracle would diverge on any non-ASCII document
      SELECT doc_id, n,
             LIST_TRANSFORM(RANGE(1, n + 1),
               i -> (STRPOS('0123456789ABCDEF',
                            SUBSTR(h, CAST(2*i - 1 AS BIGINT), 1)) - 1) * 16
                  + (STRPOS('0123456789ABCDEF',
                            SUBSTR(h, CAST(2*i AS BIGINT), 1)) - 1)) AS cs
      FROM hx),
    frames AS (
      SELECT doc_id, n, cs,
             UNNEST(RANGE(0, (n + {_AUDIO_FRAME} - 1) // {_AUDIO_FRAME}))
               AS fi
      FROM codes)
    SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
           CAST(LEAST((fi+1)*{_AUDIO_FRAME}, n) - fi*{_AUDIO_FRAME} AS BIGINT)
             AS n_samples,
           SQRT(LIST_SUM(LIST_TRANSFORM(
                  cs[CAST(fi*{_AUDIO_FRAME} + 1 AS BIGINT) :
                     CAST(LEAST((fi+1)*{_AUDIO_FRAME}, n) AS BIGINT)],
                  c -> c*c)) * 1.0
                / (LEAST((fi+1)*{_AUDIO_FRAME}, n) - fi*{_AUDIO_FRAME}))
             AS rms
    FROM frames
    """,
    doc=f"Per-frame RMS energy over a binary payload ({_AUDIO_FRAME}-byte "
    "frames — the audio feature-extraction access pattern; bytes stand in for "
    "PCM samples, the codec stub for librosa/soundfile). The sum of squared "
    "byte values is computed in exact int64 (no float accumulation), so one "
    "final divide + sqrt is bit-identical in Spark, numpy, and the SQL "
    "oracle regardless of summation order. The oracle frames the UTF-8 "
    "payload BYTES (hex transcription), not characters — non-ASCII parity "
    "is pinned by the degenerate-docs test. Arrow-batched mapInPandas: "
    "map-only, output ≈ |payload|/frame rows produced executor-side.",
)
def mm_audio_rms(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        fb = _AUDIO_FRAME
        for pdf in batches:
            ids, idxs, ns, rms = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n = len(payload)
                for i in range((n + fb - 1) // fb):
                    chunk = payload[i * fb : i * fb + fb]
                    sq = sum(b * b for b in chunk)  # exact int64
                    ids.append(doc_id)
                    idxs.append(i)
                    ns.append(len(chunk))
                    rms.append(math.sqrt(sq * 1.0 / len(chunk)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        op, schema="doc_id long, frame_idx long, n_samples long, rms double"
    )


# --------------------------------------------------------------------------
# Perceptual-hash near-dup over binary payloads (the mm → dedup bridge)
# --------------------------------------------------------------------------

_PHASH_BLOCKS = 64  # one bit per block → 64-bit hash
# Candidate generation is the Manku/WWW'07 permuted-multi-table construction
# over the 64-bit hash: _PHASH_TABLES bit-rotations (offsets t*_PHASH_ROT) of
# the code, each split into _PHASH_SLICES slices of _PHASH_BPS=16 bits, with
# radius-1 multi-probe (the slice value plus every 1-bit flip) and a
# hot-bucket cap. 16-bit slices give a 2^16 bucket domain per position —
# the round-7 design keyed on 8-bit slices (2048 buckets total), which made
# candidate pairs O(N^2/2048) on ANY data (measured 10.66x wall at 10x).
_PHASH_TABLES = 2  # bit-rotation tables (offsets 0, 8)
_PHASH_ROT = 8  # rotation step between tables
_PHASH_SLICES = 4  # slices per table
_PHASH_BPS = _PHASH_BLOCKS // _PHASH_SLICES  # 16 bits per slice
_PHASH_POSITIONS = _PHASH_TABLES * _PHASH_SLICES  # 8 join positions
# skip candidate TARGETS in buckets holding more than this many docs: a
# 16-bit slice shared by >16 docs is non-discriminative (the stop-word
# analogue), and the cap bounds join output at probes x cap = O(N) rows.
# A pair in a hot bucket is still caught through any of its 7 other
# positions, or from the other direction if only one side's bucket is hot.
_PHASH_CAP = 16
_PHASH_MAX_HAMMING = 12  # verify threshold

_PHASH_ORACLE = f"""
WITH hx AS (
  SELECT doc_id, HEX(ENCODE(text)) AS h,
         OCTET_LENGTH(ENCODE(text)) AS n
  FROM documents),
codes AS (
  -- the UTF-8 PAYLOAD bytes (not characters): the Spark side hashes
  -- np.frombuffer over ingest_binary's encoded payload, so the oracle must
  -- share byte semantics or any non-ASCII document diverges. DuckDB 1.0
  -- has no BLOB indexing, so bytes come from the hex transcription.
  SELECT doc_id, n,
         LIST_TRANSFORM(RANGE(1, n + 1),
           i -> (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i - 1, 1)) - 1) * 16
              + (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i, 1)) - 1)) AS cs
  FROM hx),
blocks AS (
  SELECT doc_id, n,
         LIST_TRANSFORM(RANGE(0, {_PHASH_BLOCKS}),
           i -> COALESCE(LIST_SUM(cs[(i*n)//{_PHASH_BLOCKS} + 1 :
                                     ((i+1)*n)//{_PHASH_BLOCKS}]), 0)) AS bsum,
         LIST_TRANSFORM(RANGE(0, {_PHASH_BLOCKS}),
           i -> ((i+1)*n)//{_PHASH_BLOCKS} - (i*n)//{_PHASH_BLOCKS}) AS blen,
         COALESCE(LIST_SUM(cs), 0) AS total
  FROM codes),
bits AS (
  SELECT doc_id,
         LIST_TRANSFORM(RANGE(1, {_PHASH_BLOCKS + 1}),
           i -> CASE WHEN bsum[i] * n > total * blen[i] THEN 1 ELSE 0 END) AS b
  FROM blocks),
-- position p = table*{_PHASH_SLICES} + slice; table t rotates the code by
-- t*{_PHASH_ROT} bits before slicing into {_PHASH_SLICES} x {_PHASH_BPS}-bit values
slices AS (
  SELECT doc_id, p,
         LIST_SUM(LIST_TRANSFORM(RANGE(0, {_PHASH_BPS}),
           k -> b[(((p // {_PHASH_SLICES}) * {_PHASH_ROT}
                    + (p % {_PHASH_SLICES}) * {_PHASH_BPS} + k)
                   % {_PHASH_BLOCKS}) + 1] * (1 << k))) AS sl
  FROM bits, (SELECT UNNEST(RANGE(0, {_PHASH_POSITIONS})) AS p)),
sz AS (SELECT p, sl, COUNT(*) AS nb FROM slices GROUP BY 1, 2),
tgt AS (
  SELECT s.doc_id, s.p, s.sl FROM slices s
  JOIN sz ON s.p = sz.p AND s.sl = sz.sl
  WHERE sz.nb <= {_PHASH_CAP}),
probes AS (
  SELECT doc_id, p,
         CASE WHEN m = 0 THEN sl ELSE XOR(sl, 1 << (m - 1)) END AS pv
  FROM slices, (SELECT UNNEST(RANGE(0, {_PHASH_BPS + 1})) AS m)),
cand AS (
  SELECT DISTINCT LEAST(a.doc_id, t.doc_id) AS doc_id_1,
                  GREATEST(a.doc_id, t.doc_id) AS doc_id_2
  FROM probes a JOIN tgt t ON a.p = t.p AND a.pv = t.sl
  WHERE a.doc_id != t.doc_id),
ham AS (
  SELECT c.doc_id_1, c.doc_id_2,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, {_PHASH_BLOCKS + 1}),
           i -> CASE WHEN x.b[i] != y.b[i] THEN 1 ELSE 0 END)) AS hamming
  FROM cand c
  JOIN bits x ON c.doc_id_1 = x.doc_id
  JOIN bits y ON c.doc_id_2 = y.doc_id)
SELECT doc_id_1, doc_id_2, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= {_PHASH_MAX_HAMMING}
"""


def phash_codes(payloads: DataFrame) -> DataFrame:
    """Hash a ``(doc_id, payload)`` frame Arrow-batched: per doc the 64-bit
    block-mean code packed into two 32-bit halves (``h_lo``/``h_hi``, exact
    bit_count-able longs) plus the :data:`_PHASH_POSITIONS` 16-bit slice
    values (permuted-table construction, see the query doc). Shared by the
    query and the candidate-growth scale test."""
    # pre-bound locals: cloudpickle serializes captured ints by value (the
    # minhash_features pattern) — module-global refs would break executor
    # pickling, but hardcoding the constants would desync from the oracle,
    # which interpolates _PHASH_*
    nb = _PHASH_BLOCKS
    n_pos = _PHASH_POSITIONS
    n_slices = _PHASH_SLICES
    bps = _PHASH_BPS
    rot = _PHASH_ROT

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        kpow = 1 << np.arange(bps, dtype=np.int64)
        pos_idx = np.stack(
            [
                ((p // n_slices) * rot + (p % n_slices) * bps + np.arange(bps))
                % nb
                for p in range(n_pos)
            ]
        )  # n_pos x bps bit indices per position
        lopow = 1 << np.arange(32, dtype=np.int64)
        for pdf in batches:
            lo_out, hi_out, slices_out = [], [], []
            for payload in pdf["payload"]:
                arr = (
                    np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                    if payload is not None
                    else np.zeros(0, dtype=np.int64)
                )
                n = arr.size
                edges = [(i * n) // nb for i in range(nb + 1)]
                csum = np.concatenate([[0], np.cumsum(arr)])
                bsum = np.array(
                    [csum[edges[i + 1]] - csum[edges[i]] for i in range(nb)]
                )
                blen = np.array([edges[i + 1] - edges[i] for i in range(nb)])
                total = int(arr.sum())
                b = (bsum * n > total * blen).astype(np.int64)
                lo_out.append(int((b[:32] * lopow).sum()))
                hi_out.append(int((b[32:] * lopow).sum()))
                slices_out.append((b[pos_idx] * kpow).sum(axis=1).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "h_lo": pd.Series(lo_out, dtype="int64"),
                    "h_hi": pd.Series(hi_out, dtype="int64"),
                    "slices": slices_out,
                }
            )

    return payloads.mapInPandas(
        op, schema="doc_id long, h_lo long, h_hi long, slices array<int>"
    )


def phash_candidates(hashed: DataFrame, distinct: bool = True) -> DataFrame:
    """Distinct (doc_id_1 < doc_id_2) candidate pairs from the hashed frame:
    radius-1 multi-probe join per position, target buckets capped at
    :data:`_PHASH_CAP`. Join output is bounded by probes x cap = O(N) rows.
    ``distinct=False`` returns the raw join output (the work metric the
    candidate-growth scale test measures)."""
    sl = hashed.select("doc_id", F.posexplode("slices").alias("p", "sl"))
    sz = sl.groupBy("p", "sl").agg(F.count("*").alias("nb"))
    tgt = sl.join(
        sz.filter(F.col("nb") <= _PHASH_CAP).select("p", "sl"), ["p", "sl"]
    )
    probes = sl.select(
        "doc_id",
        "p",
        F.explode(
            F.array(
                F.col("sl"),
                *[F.col("sl").bitwiseXOR(F.lit(1 << k)) for k in range(_PHASH_BPS)],
            )
        ).alias("pv"),
    )
    a, b = probes.alias("a"), tgt.alias("b")
    joined = a.join(
        b,
        (F.col("a.p") == F.col("b.p"))
        & (F.col("a.pv") == F.col("b.sl"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.least("a.doc_id", "b.doc_id").alias("doc_id_1"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_id_2"),
    )
    return joined.distinct() if distinct else joined


@query(
    "mm_phash_dedup",
    oracle=_PHASH_ORACLE,
    doc=f"Perceptual-hash near-dup over binary payloads — the multimodal "
    f"dedup bridge: a {_PHASH_BLOCKS}-bit block-mean hash (bit i = block "
    "mean above global mean, exact integer compare) computed Arrow-batched "
    "over the payload bytes; candidates from the Manku permuted-multi-table "
    f"construction ({_PHASH_TABLES} bit-rotations x {_PHASH_SLICES} slices "
    f"of {_PHASH_BPS} bits, radius-1 multi-probe, target buckets capped at "
    f"{_PHASH_CAP}); hamming ≤ {_PHASH_MAX_HAMMING} verified only on "
    "candidates via packed-int bit_count. The oracle replays hash, "
    "permuted slicing, probe/cap candidate join, and verify exactly, so "
    "the match certifies the mechanism end-to-end. The 2^16 bucket domain "
    "per position replaces round-7's 2^8 slices, whose fixed 2048-bucket "
    "domain made candidates O(N^2/2048) on any data (10.66x wall at 10x "
    "organic). MEASURED sf0.1: recall vs brute-force hamming≤12 is 859/959 "
    "(89.6%), and 44/44 for hamming≤8 — radius-1 probes over 16-bit slices "
    "guarantee every pair with hamming≤7 by pigeonhole; misses are all in "
    "the 9-12 borderline band. Candidate join rows grow 52x at 10x organic "
    "data (subquadratic; quadratic would be 100x — pinned by "
    "test_phash_candidate_growth_subquadratic). For real images swap the "
    "byte-block stub for DCT lowpass inside the same batch fn; the "
    "plumbing (per-batch vectorized hash, capped probe join, bounded "
    "verify) is the 100 TB shape: corpus never self-joins on payloads.",
)
def mm_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    payloads = ingest_binary(spark, sf).select("doc_id", "payload")
    hashed = phash_codes(payloads).cache()
    cand = phash_candidates(hashed)
    h1 = hashed.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("h_lo").alias("lo1"),
        F.col("h_hi").alias("hi1"),
    )
    h2 = hashed.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("h_lo").alias("lo2"),
        F.col("h_hi").alias("hi2"),
    )
    hamming = F.bit_count(
        F.col("lo1").bitwiseXOR(F.col("lo2"))
    ) + F.bit_count(F.col("hi1").bitwiseXOR(F.col("hi2")))
    return (
        cand.join(h1, "doc_id_1")
        .join(h2, "doc_id_2")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= _PHASH_MAX_HAMMING)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


# --------------------------------------------------------------------------
# WebDataset-style shard packing (training-data egress manifest)
# --------------------------------------------------------------------------

_SHARD_BUDGET = 16_384  # bytes per shard (small so sf0.01 yields ~10 shards)


def _assign_shards(df: DataFrame) -> DataFrame:
    """Add ``shard_id`` = exclusive-prefix-bytes // budget to a
    ``(doc_id, nb, ...)`` frame, in stable doc_id order — the q79
    range-partition offset construction (see mm_shard_manifest's doc).
    Extra columns (e.g. the payload itself for the tar writer) ride the one
    range shuffle unchanged."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # range-shuffle on the unique sort key; localCheckpoint pins the sampled
    # range boundaries so the subtotal action and the ranking pass see the
    # SAME partition layout
    ranged = (
        df.repartitionByRange(n_parts, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the subtotal collect materializes the blocks, pinning layout
        .localCheckpoint(eager=False)
    )
    subtotals = sorted(
        ranged.groupBy("_pid").agg(F.sum("nb").alias("b")).collect()
    )
    offs, acc = [], 0
    for row in subtotals:  # partition ids are emitted in range order
        offs.append((row._pid, acc))
        acc += row.b
    offdf = spark.createDataFrame(offs, "_pid int, _byte_off long")
    ww = (
        W.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(offdf), "_pid")
        .withColumn(
            "prior",
            F.col("_byte_off") + F.coalesce(F.sum("nb").over(ww), F.lit(0)),
        )
        .withColumn(
            "shard_id",
            F.call_function("div", F.col("prior"), F.lit(_SHARD_BUDGET)),
        )
        .drop("_pid", "_byte_off", "prior")
    )


@query(
    "mm_shard_manifest",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS nb,
             COALESCE(SUM(OCTET_LENGTH(ENCODE(text))) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents
    )
    SELECT CAST(prior // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM sized GROUP BY 1
    """,
    doc="WebDataset-style shard packing: documents in stable doc_id order are "
    f"assigned to ~{_SHARD_BUDGET}-byte shards by exclusive running payload "
    "size (shard = prefix_bytes // budget — sequence-sharded egress for "
    "training dataloaders). The prefix sum is the q79 range-partition "
    "offset construction: range-shuffle on the UNIQUE doc_id, pin the "
    "sampled boundaries (localCheckpoint), collect ONE byte-subtotal row "
    "per partition (P rows — cluster-bounded, corpus-INDEPENDENT), "
    "prefix-sum them on the driver into per-partition byte offsets, "
    "broadcast the offsets back, and each row's exclusive prior = offset "
    "+ a running sum PARTITIONED by partition id. Every sort is "
    "partition-local; no stage ever holds more than |docs|/P rows in one "
    "task — unlike a block-keyed two-level scheme whose block list still "
    "grows with the corpus. The oracle runs the naive global window "
    "(honest at oracle scale). At 100 TB the manifest (one row per "
    "~shard) is exactly what the tar-writer job consumes.",
)
def mm_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    d = ingest_binary(spark, sf).select(
        "doc_id", F.col("meta.n_bytes").alias("nb")
    )
    sized = _assign_shards(d)
    return sized.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --------------------------------------------------------------------------
# WebDataset-style tar shard construction (training-dataloader egress)
# --------------------------------------------------------------------------

_TAR_NAME_PAD = 16  # member names: zero-padded doc_id + ".txt" (sortable)


def tar_shard_builder(name_pad: int = _TAR_NAME_PAD, emit_bytes: bool = False):
    """The per-shard tar writer applyInPandas runs — a module-level factory
    so tests exercise THE implementation (readback validity) and the query
    ships it as a self-contained closure (cloudpickle serializes closures by
    value; module globals would need the package importable on executors).
    ``emit_bytes=True`` adds the raw archive to the output row (test path —
    the query emits stats only so the driver never sees tar bytes)."""

    def build_tar(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib
        import io
        import tarfile

        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        names = []
        # USTAR format + zeroed metadata: the archive bytes are a pure
        # function of (names, payloads) — reproducible across runs/hosts
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                name = f"{int(doc_id):0{name_pad}d}.txt"
                names.append(name)
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(bytes(payload)))
        row = {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "n_members": [len(names)],
            "payload_bytes": [int(pdf["nb"].sum())],
            "tar_bytes": [buf.getbuffer().nbytes],
            "members_md5": [hashlib.md5("\n".join(names).encode()).hexdigest()],
        }
        if emit_bytes:
            row["tar"] = [buf.getvalue()]
        return pd.DataFrame(row)

    return build_tar


@query(
    "mm_tar_shards",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS nb,
             COALESCE(SUM(OCTET_LENGTH(ENCODE(text))) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents
    ), m AS (
      SELECT CAST(prior // {_SHARD_BUDGET} AS BIGINT) AS shard_id, doc_id, nb
      FROM sized
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(nb) AS BIGINT) AS payload_bytes,
           CAST(((SUM(512 + ((nb + 511) // 512) * 512) + 1024 + 10239)
                 // 10240) * 10240 AS BIGINT) AS tar_bytes,
           MD5(STRING_AGG(LPAD(CAST(doc_id AS VARCHAR), {_TAR_NAME_PAD}, '0')
                          || '.txt', CHR(10) ORDER BY doc_id)) AS members_md5
    FROM m GROUP BY 1
    """,
    doc="WebDataset-style tar SHARD CONSTRUCTION — the egress step after "
    "mm_shard_manifest's assignment: payloads are grouped by shard and each "
    "group is serialized into an actual POSIX ustar archive inside "
    "applyInPandas (Arrow-batched; the tar bytes are built per shard on the "
    "executor and never visit the driver). Emitted per shard: member count, "
    "payload bytes, the REAL archive's byte size, and an md5 over the "
    "ordered member names. The oracle independently computes what the ustar "
    "format REQUIRES the archive size to be (512-byte header + 512-padded "
    "payload per member, 1024-byte end marker, 10240-byte record padding) — "
    "so the parity check proves the writer produced a structurally correct "
    "archive, not just that two copies of one implementation agree; "
    "readback validity is pinned in tests/test_llm_ops.py. The shard "
    "assignment runs on the NARROW (doc_id, nb) skeleton only — "
    "_assign_shards localCheckpoints its input, and materializing a "
    "corpus-sized payload copy there would double storage at 100 TB — "
    "then payloads join back by doc_id and hash-shuffle to their shard "
    "builders: payload bytes ride two exchanges (join, group) and ZERO "
    "persisted copies, and per-task state is bounded by the "
    f"{_SHARD_BUDGET}-byte shard budget (+1 doc overshoot), never by "
    "corpus size: at 100 TB with ~1 GB shards this is exactly the "
    "img2dataset/WebDataset write path.",
)
def mm_tar_shards(spark: SparkSession, sf: str) -> DataFrame:
    d = ingest_binary(spark, sf).select(
        "doc_id", "payload", F.col("meta.n_bytes").alias("nb")
    )
    # assignment on the 16-byte/row skeleton; payloads never enter the
    # localCheckpoint (review finding: checkpointing the payload column
    # materializes a full second copy of the corpus)
    assigned = _assign_shards(d.select("doc_id", "nb")).select(
        "doc_id", "shard_id"
    )
    sized = d.join(assigned, "doc_id")
    return sized.select("shard_id", "doc_id", "payload", "nb").groupBy(
        "shard_id"
    ).applyInPandas(
        tar_shard_builder(),
        schema="shard_id long, n_members long, payload_bytes long, "
        "tar_bytes long, members_md5 string",
    )


# --------------------------------------------------------------------------
# Content fingerprint manifest (transfer-integrity / provenance)
# --------------------------------------------------------------------------


@query(
    "mm_content_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(text) AS content_sha256,
           md5(text) AS content_md5,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Per-item cryptographic fingerprint manifest over the binary "
    "payloads — the integrity sidecar every dataset delivery ships "
    "(verify-after-transfer, provenance dedup across vendors, "
    "content-addressed storage keys): SHA-256 + MD5 of the payload bytes "
    "plus the byte length, computed JVM-side with Spark's built-in "
    "sha2/md5 over the encoded payload (whole-stage codegen, no Python). "
    "The oracle recomputes both digests in DuckDB over the same UTF-8 "
    "bytes — a single flipped bit anywhere in 100 TB fails the hash "
    "parity, which is precisely the operator's job description. Map-only, "
    "zero shuffles, scan-bound.",
)
def mm_content_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    payload = F.encode(F.col("text"), "utf-8")
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.sha2(payload, 256).alias("content_sha256"),
        F.md5(payload).alias("content_md5"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


# --------------------------------------------------------------------------
# Scene segmentation (video shot-detection access pattern)
# --------------------------------------------------------------------------

_SCENE_FRAME = 64  # bytes per "frame"
# per-BYTE mean-energy delta that starts a new scene, compared by exact
# integer cross-multiplication so the short final frame is weighted by its
# true length (a raw-sum threshold would cut at every tail frame)
_SCENE_DELTA = 2


@query(
    "mm_scene_segments",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, HEX(ENCODE(text)) AS h,
             OCTET_LENGTH(ENCODE(text)) AS n
      FROM documents
    ),
    frames AS (
      SELECT doc_id,
             UNNEST(RANGE(0, CAST(CEIL(n * 1.0 / {_SCENE_FRAME}) AS BIGINT)))
               AS fi,
             h, n
      FROM hx
    ),
    sums AS (
      SELECT doc_id, fi,
             CAST(LEAST((fi + 1) * {_SCENE_FRAME}, n)
                  - fi * {_SCENE_FRAME} AS BIGINT) AS flen,
             COALESCE(LIST_SUM(LIST_TRANSFORM(
               RANGE(CAST(fi * {_SCENE_FRAME} + 1 AS BIGINT),
                     CAST(LEAST((fi + 1) * {_SCENE_FRAME}, n) + 1 AS BIGINT)),
               i -> (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i - 1, 1)) - 1)
                    * 16
                  + (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i, 1)) - 1))), 0)
               AS fsum
      FROM frames
    ),
    cuts AS (
      SELECT doc_id, fi, fsum,
             CASE WHEN fi = 0 THEN 1
                  WHEN ABS(fsum * LAG(flen) OVER w - LAG(fsum) OVER w * flen)
                       > {_SCENE_DELTA} * flen * LAG(flen) OVER w THEN 1
                  ELSE 0 END AS is_cut
      FROM sums WINDOW w AS (PARTITION BY doc_id ORDER BY fi)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(is_cut) AS BIGINT) AS n_scenes
    FROM cuts GROUP BY doc_id
    """,
    doc=f"Scene segmentation over binary payloads — the video "
    "shot-detection access pattern with the codec stubbed to byte-block "
    f"energy: {_SCENE_FRAME}-byte frames, a new scene wherever the "
    f"per-BYTE mean energy shifts by more than {_SCENE_DELTA} — compared "
    "via exact integer cross-multiplication (|sᵢ·lⱼ − sⱼ·lᵢ| > Δ·lᵢ·lⱼ), "
    "so the short final frame weighs by its true length and no float "
    "division enters (bit-identical across engines and partition orders; "
    "a real detector swaps byte energy for histogram distance inside the "
    "same batch fn). Arrow-batched mapInPandas computes each document's scene "
    "count in one numpy pass over its own payload — map-only, no "
    "shuffle, per-row memory bounded by the payload. The oracle rebuilds "
    "frames/energies/cuts in SQL over the hex-transcribed UTF-8 bytes "
    "(the mm_phash byte-semantics discipline). At 100 TB: payload-local "
    "compute, output one row per item — the cheapest shape there is.",
)
def mm_scene_segments(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf).select("doc_id", "payload")
    fb, delta = _SCENE_FRAME, _SCENE_DELTA

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, nf, ns = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = (
                    np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                    if payload is not None
                    else np.zeros(0, dtype=np.int64)
                )
                n = arr.size
                n_frames = (n + fb - 1) // fb
                if n_frames == 0:
                    # zero-byte payload: the oracle's RANGE(0, 0) emits no
                    # frame rows, so the doc has no output row there either
                    continue
                pad = np.zeros(n_frames * fb, dtype=np.int64)
                pad[:n] = arr
                fsum = pad.reshape(n_frames, fb).sum(axis=1)
                flen = np.full(n_frames, fb, dtype=np.int64)
                flen[-1] = n - (n_frames - 1) * fb
                # exact cross-multiplied per-byte delta (no float division):
                # |s_i·l_{i-1} − s_{i-1}·l_i| > Δ·l_i·l_{i-1}
                lhs = np.abs(fsum[1:] * flen[:-1] - fsum[:-1] * flen[1:])
                cuts = 1 + int((lhs > delta * flen[1:] * flen[:-1]).sum())
                ids.append(doc_id)
                nf.append(n_frames)
                ns.append(cuts)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "n_scenes": pd.Series(ns, dtype="int64"),
                }
            )

    return df.mapInPandas(op, schema="doc_id long, n_frames long, n_scenes long")


# --------------------------------------------------------------------------
# Silence / low-energy segment detection (audio stand-in, VAD shape)
# --------------------------------------------------------------------------

_SILENCE_MS = 9600  # mean-square threshold: frame is "silent" iff sq < T*n


@query(
    "mm_silence_segments",
    oracle=f"""
    WITH hx AS (SELECT doc_id, HEX(ENCODE(text)) AS h,
                       OCTET_LENGTH(ENCODE(text)) AS n FROM documents),
    codes AS (SELECT doc_id, n,
           LIST_TRANSFORM(RANGE(1, n+1),
             i -> (STRPOS('0123456789ABCDEF',
                          SUBSTR(h, CAST(2*i-1 AS BIGINT), 1)) - 1) * 16
                + (STRPOS('0123456789ABCDEF',
                          SUBSTR(h, CAST(2*i AS BIGINT), 1)) - 1)) AS cs
      FROM hx),
    frames AS (SELECT doc_id, n, cs,
                      UNNEST(RANGE(0, (n + {_AUDIO_FRAME} - 1)
                                      // {_AUDIO_FRAME})) AS fi
               FROM codes),
    en AS (SELECT doc_id, fi,
            COALESCE(LIST_SUM(LIST_TRANSFORM(
              cs[CAST(fi*{_AUDIO_FRAME}+1 AS BIGINT) :
                 CAST(LEAST((fi+1)*{_AUDIO_FRAME}, n) AS BIGINT)],
              c -> c*c)), 0) AS sq,
            LEAST((fi+1)*{_AUDIO_FRAME}, n) - fi*{_AUDIO_FRAME} AS ns
           FROM frames),
    silent AS (SELECT doc_id, fi FROM en WHERE sq < {_SILENCE_MS} * ns),
    isl AS (SELECT doc_id, fi,
            fi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
            FROM silent)
    SELECT doc_id, CAST(MIN(fi) AS BIGINT) AS seg_start,
           CAST(MAX(fi) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM isl GROUP BY doc_id, grp
    """,
    doc=f"Low-energy (silence) segment detection over binary payloads — "
    "the voice-activity-detection access pattern speech-data curation "
    f"runs before ASR training: {_AUDIO_FRAME}-byte frames, a frame is "
    f"silent iff its EXACT integer energy satisfies sq < {_SILENCE_MS}*n "
    "(an all-integer compare — no float RMS, so the threshold decision "
    "is bit-identical in numpy, Spark, and SQL), and consecutive silent "
    "frames merge into (start, end, n_frames) segments. Segments never "
    "cross document boundaries, so the merge happens INSIDE the "
    "Arrow batch (numpy add.reduceat per doc + one run scan) — map-only "
    "with zero shuffles, unlike the oracle's gaps-islands window; the "
    "construction-independent match certifies both. At 100 TB this is "
    "the ideal shape: bytes stream executor-side, output is one row per "
    "segment. A real VAD swaps the energy stub for a model inside the "
    "same batch fn.",
)
def mm_silence_segments(spark: SparkSession, sf: str) -> DataFrame:
    df = ingest_binary(spark, sf)
    # pre-bound: cloudpickle captures ints by value (the phash pattern) —
    # module-global refs inside the worker would need the package importable
    # on executor workers
    fb, t = _AUDIO_FRAME, _SILENCE_MS

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            ids, st, en, nf = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = arr.size
                sq = np.add.reduceat(arr * arr, np.arange(0, n, fb))
                lens = np.minimum(
                    np.arange(0, n, fb) + fb, n
                ) - np.arange(0, n, fb)
                silent = sq < t * lens
                # vectorized run extraction (no per-frame Python loop — a
                # 10 MB payload is ~160k frames): run edges are the sign
                # changes of the padded silent mask
                edges = np.flatnonzero(
                    np.diff(np.concatenate(([False], silent, [False])))
                )
                starts, ends = edges[0::2], edges[1::2] - 1
                ids.extend([doc_id] * starts.size)
                st.extend(starts.tolist())
                en.extend(ends.tolist())
                nf.extend((ends - starts + 1).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "seg_start": pd.Series(st, dtype="int64"),
                    "seg_end": pd.Series(en, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        op,
        schema="doc_id long, seg_start long, seg_end long, n_frames long",
    )


# --------------------------------------------------------------------------
# WebDataset member-offset index (random-access dataloader sidecar)
# --------------------------------------------------------------------------


@query(
    "mm_webdataset_index",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS nb,
             COALESCE(SUM(OCTET_LENGTH(ENCODE(text))) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents
    ), m AS (
      SELECT CAST(prior // {_SHARD_BUDGET} AS BIGINT) AS shard_id, doc_id, nb
      FROM sized
    )
    SELECT doc_id, shard_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY doc_id) - 1
                AS BIGINT) AS member_idx,
           CAST(COALESCE(SUM(512 + ((nb + 511) // 512) * 512) OVER (
                  PARTITION BY shard_id ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS header_offset,
           CAST(COALESCE(SUM(512 + ((nb + 511) // 512) * 512) OVER (
                  PARTITION BY shard_id ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 512
                AS BIGINT) AS data_offset,
           CAST(nb AS BIGINT) AS n_bytes
    FROM m
    """,
    doc="Random-access member index over the tar shards mm_tar_shards "
    "builds — the sidecar a wids/WebDataset-style dataloader uses to fetch "
    "ONE sample with one ranged read instead of streaming the archive: for "
    "every document, its shard, member ordinal, and exact byte offsets of "
    "the ustar header and payload inside that shard (header_offset + 512). "
    "Offsets are pure ustar arithmetic (512-byte header + 512-padded "
    "payload per preceding member), so the oracle recomputes them "
    "independently and tests/test_llm_ops.py slices the REAL archive at "
    "data_offset to recover each payload byte-for-byte. Plan: the one "
    "range shuffle of the shard assignment, then a window PARTITIONED BY "
    "shard_id — group size is bounded by the shard byte budget, never by "
    "corpus size, so no task's sort grows with the data. At 100 TB this "
    "index is what turns cold-storage shards into a constant-latency "
    "sample store.",
)
def mm_webdataset_index(spark: SparkSession, sf: str) -> DataFrame:
    d = ingest_binary(spark, sf).select(
        "doc_id", F.col("meta.n_bytes").alias("nb")
    )
    sized = _assign_shards(d)
    padded = F.expr("512 + ((nb + 511) div 512) * 512")
    w_mem = W.partitionBy("shard_id").orderBy("doc_id")
    w_prev = w_mem.rowsBetween(W.unboundedPreceding, -1)
    header_off = F.coalesce(F.sum(padded).over(w_prev), F.lit(0))
    return sized.select(
        "doc_id",
        "shard_id",
        (F.row_number().over(w_mem) - 1).cast("long").alias("member_idx"),
        header_off.cast("long").alias("header_offset"),
        (header_off + 512).cast("long").alias("data_offset"),
        F.col("nb").cast("long").alias("n_bytes"),
    )


# --------------------------------------------------------------------------
# Payload validation / quarantine gate (corrupt-file triage at ingest)
# --------------------------------------------------------------------------

_VAL_TRUNC_MOD = 13  # deterministic fault injection: truncated payloads
_VAL_MAGIC_MOD = 17  # deterministic fault injection: clobbered magic byte


@query(
    "mm_validate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             OCTET_LENGTH(ENCODE(text)) AS n,
             CASE WHEN OCTET_LENGTH(ENCODE(text)) = 0 THEN NULL
                  ELSE (STRPOS('0123456789ABCDEF',
                               SUBSTR(HEX(ENCODE(text)), 1, 1)) - 1) * 16
                     + (STRPOS('0123456789ABCDEF',
                               SUBSTR(HEX(ENCODE(text)), 2, 1)) - 1)
             END AS fb
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             n AS declared,
             CASE WHEN doc_id % {_VAL_TRUNC_MOD} = 0
                  THEN GREATEST(n - 7, 0) ELSE n END AS actual,
             CASE
               WHEN (CASE WHEN doc_id % {_VAL_TRUNC_MOD} = 0
                          THEN GREATEST(n - 7, 0) ELSE n END) = 0 THEN NULL
               WHEN doc_id % {_VAL_MAGIC_MOD} = 0
                    AND doc_id % {_VAL_TRUNC_MOD} != 0 THEN 0
               ELSE fb
             END AS first_byte
      FROM base
    )
    SELECT doc_id,
           CASE WHEN actual != declared THEN 'size_mismatch'
                WHEN actual = 0 THEN 'empty'
                WHEN first_byte < 32 OR first_byte > 126 THEN 'bad_magic'
                ELSE 'ok' END AS status,
           CAST(declared AS BIGINT) AS n_bytes_declared,
           CAST(actual AS BIGINT) AS n_bytes_actual,
           CAST(first_byte AS BIGINT) AS first_byte
    FROM c
    """,
    doc="Payload validation / quarantine triage — the gate between raw "
    "object-store bytes and the decode fleet that every multimodal ingest "
    "runs first (a single corrupt member inside a 10k-image shard otherwise "
    "kills the whole decode task hours in): per payload, check the DECLARED "
    "size in the metadata struct against the actual byte count, then the "
    "magic byte against the modality's expected class (printable ASCII for "
    "this text-bytes stand-in corpus; JPEG's FF D8 / RIFF etc. in "
    "production), and emit a status in {ok, size_mismatch, empty, "
    "bad_magic} for the router (quarantine = anything != ok). Faults are "
    f"injected deterministically (doc_id % {_VAL_TRUNC_MOD}: 7-byte "
    f"truncation under an unchanged manifest size; doc_id % "
    f"{_VAL_MAGIC_MOD}: zeroed first byte) so both engines see the same "
    "corrupt set — the oracle replays injection + triage byte-exactly via "
    "hex transcription. Mechanics: Arrow-batched mapInPandas over "
    "(doc_id, payload, declared); payload bytes never leave the executors, "
    "no shuffle at all — at 100 TB this is a pure scan-rate pass emitting "
    "one 5-scalar row per object.",
)
def mm_validate(spark: SparkSession, sf: str) -> DataFrame:
    # deliberately NOT ingest_binary: its fan_out round-robin exchange (a
    # small-local-input parallelism aid) would ship every payload byte
    # across the cluster once — the opposite of this op's scan-rate
    # contract. The triage reads payloads in source partitioning.
    payload = F.encode(F.col("text"), "utf-8")
    src = _t(spark, sf, "documents").select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("declared"),
    )

    def triage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            rows = {
                "doc_id": [],
                "status": [],
                "n_bytes_declared": [],
                "n_bytes_actual": [],
                "first_byte": [],
            }
            for doc_id, payload, declared in zip(
                b["doc_id"], b["payload"], b["declared"]
            ):
                p = bytes(payload) if payload is not None else b""
                # fault injection (deterministic, replayed by the oracle)
                if doc_id % _VAL_TRUNC_MOD == 0:
                    p = p[: max(len(p) - 7, 0)]
                elif doc_id % _VAL_MAGIC_MOD == 0 and len(p):
                    p = b"\x00" + p[1:]
                actual = len(p)
                fb = p[0] if actual else None
                if actual != declared:
                    status = "size_mismatch"
                elif actual == 0:
                    status = "empty"
                elif fb < 32 or fb > 126:
                    status = "bad_magic"
                else:
                    status = "ok"
                rows["doc_id"].append(doc_id)
                rows["status"].append(status)
                rows["n_bytes_declared"].append(declared)
                rows["n_bytes_actual"].append(actual)
                rows["first_byte"].append(fb)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "status": pd.Series(rows["status"], dtype="object"),
                    "n_bytes_declared": pd.Series(
                        rows["n_bytes_declared"], dtype="int64"
                    ),
                    "n_bytes_actual": pd.Series(
                        rows["n_bytes_actual"], dtype="int64"
                    ),
                    "first_byte": pd.Series(rows["first_byte"], dtype="Int64"),
                }
            )

    return src.mapInPandas(
        triage,
        schema="doc_id long, status string, n_bytes_declared long, "
        "n_bytes_actual long, first_byte long",
    )


# --------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style) + cross-corpus chunk dedup
# --------------------------------------------------------------------------

_CDC_W = 16  # rolling window bytes
_CDC_D = 101  # boundary divisor -> expected chunk ~101 bytes
# P^j mod 2^25 for j = 0..W-1 (bounds each term at 255 * 2^25 so the
# 16-term window sum stays far inside int64 on both engines; the boundary
# test is sum %% 101, and 101 is PRIME so it does not divide the power
# modulus — a power-of-two divisor would collapse the powers mod D to a
# 2-cycle and put boundaries on a degenerate stripe)
_CDC_POW = [1, 4099, 16801801, 16887835, 442449, 1659123, 22749913, 4126859, 4561313, 7003363, 17745577, 26665979, 17062897, 13378515, 10591097, 27026027]

# chunk-derivation CTEs shared by mm_cdc_chunking and mm_chunk_index —
# one copy, so the chunk mechanism can never drift between the two oracles
_CDC_CHUNK_CTES = f"""
hx AS (
  SELECT doc_id, HEX(ENCODE(text)) AS h, OCTET_LENGTH(ENCODE(text)) AS n
  FROM documents),
codes AS (
  SELECT doc_id, h, n,
         LIST_TRANSFORM(RANGE(1, n + 1),
           i -> (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i - 1, 1)) - 1) * 16
              + (STRPOS('0123456789ABCDEF', SUBSTR(h, 2*i, 1)) - 1)) AS cs
  FROM hx),
-- rolling window hash at byte position i (1-based, window = bytes i-W+1..i):
-- sum of cs[i-j] * P^j-mod-2^25; boundary where it divides {_CDC_D}
bl AS (
  SELECT doc_id, h, n,
         LIST_FILTER(LIST_TRANSFORM(RANGE({_CDC_W}, n + 1),
           i -> CASE WHEN LIST_SUM(LIST_TRANSFORM(RANGE(0, {_CDC_W}),
                  j -> cs[i - j] * ({_CDC_POW})[j + 1])) % {_CDC_D} = 0
                THEN i END), x -> x IS NOT NULL) AS bs
  FROM codes WHERE n > 0),
spans AS (
  SELECT doc_id, h,
         LIST_PREPEND(0, CASE WHEN LEN(bs) = 0 OR bs[LEN(bs)] != n
                              THEN LIST_APPEND(bs, n) ELSE bs END) AS b
  FROM bl),
ks AS (
  SELECT doc_id, h, b, UNNEST(RANGE(1, LEN(b))) AS k FROM spans),
ch AS (
  SELECT doc_id,
         MD5(SUBSTR(h, 2 * b[k] + 1, 2 * (b[k + 1] - b[k]))) AS chash
  FROM ks)
"""

_CDC_ORACLE = f"""
WITH {_CDC_CHUNK_CTES},
dup AS (SELECT chash, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
per AS (
  SELECT c.doc_id,
         COUNT(*) AS n_chunks,
         COUNT(CASE WHEN d.nd > 1 THEN 1 END) AS dup_chunks
  FROM ch c JOIN dup d USING (chash)
  GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(per.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(per.dup_chunks, 0) AS BIGINT) AS dup_chunks,
       CAST(COALESCE(1000 * per.dup_chunks // per.n_chunks, 0) AS BIGINT)
         AS dup_milli
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def cdc_chunk_hashes(payloads: DataFrame) -> DataFrame:
    """(doc_id, chash) — one row per content-defined chunk instance.
    Arrow-batched: the rolling window hash is one np.convolve per payload
    (window powers precomputed), boundaries at sum %% _CDC_D == 0, chunk id
    = md5 of the chunk's UPPERCASE hex transcription (hex, not raw bytes:
    DuckDB 1.0 cannot substring BLOBs, so the oracle hashes hex — both
    engines must hash the same text). Shared by the query and its tests."""
    wlen = _CDC_W
    div = _CDC_D
    pows = _CDC_POW

    def op(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        pw = np.asarray(pows, dtype=np.int64)
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = arr.size
                if n >= wlen:
                    conv = np.convolve(arr, pw, "full")[wlen - 1 : n]
                    bs = (np.nonzero(conv % div == 0)[0] + wlen).tolist()
                else:
                    bs = []
                if not bs or bs[-1] != n:
                    bs.append(n)
                hexs = payload.hex().upper()
                lo = 0
                for hi in bs:
                    ids.append(int(doc_id))
                    hashes.append(
                        hashlib.md5(hexs[2 * lo : 2 * hi].encode()).hexdigest()
                    )
                    lo = hi
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chash": pd.Series(hashes, dtype=object),
                }
            )

    return payloads.mapInPandas(op, schema="doc_id long, chash string")


@query(
    "mm_cdc_chunking",
    oracle=_CDC_ORACLE,
    doc=f"Content-defined chunking over binary payloads (the FastCDC/"
    "rsync primitive behind dedupe storage, delta sync, and chunk-level "
    f"corpus dedup — the BINARY analog of dedup_paragraph): a {_CDC_W}-"
    "byte rolling polynomial hash marks a chunk boundary wherever it "
    f"divides {_CDC_D} (expected chunk ~{_CDC_D} bytes; boundaries "
    "depend only on LOCAL content, so an insertion re-chunks one "
    "neighborhood instead of shifting every fixed-size block — the whole "
    "point vs offset-based chunking), then chunks dedup ACROSS the corpus "
    "by md5 and each doc reports its duplicated-chunk fraction. The "
    "oracle replays byte decode, window hash, boundary set, chunk spans, "
    "md5 ids, and the cross-doc dup counts exactly. NO min-chunk floor by "
    "design: min-chunk enforcement makes each boundary depend on the "
    "previous one (sequential scan — unreplayable in SQL and "
    "unparallelizable over byte ranges); the prime divisor already bounds "
    "expected density. Scale shape: hashing is one Arrow-batched pass, "
    "payload bytes never visit the driver, and the only corpus-scale "
    f"shuffle is the chunk-hash groupBy — O(bytes/{_CDC_D}) rows of "
    "32-char keys, the same shape content-addressable stores run at PB "
    "scale.",
)
def mm_cdc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    ch = cdc_chunk_hashes(
        ingest_binary(spark, sf).select("doc_id", "payload")
    ).localCheckpoint(eager=False)  # feeds both the dup aggregate and the
    # per-doc join inside ONE final action — lazy skips the up-front job
    dup = ch.groupBy("chash").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    per = (
        ch.join(dup, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("dup_chunks"),
        )
    )
    d = _t(spark, sf, "documents").select("doc_id")
    return d.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("dup_chunks", F.lit(0)).cast("long").alias("dup_chunks"),
        F.coalesce(
            F.call_function(
                "div", F.lit(1000) * F.col("dup_chunks"), F.col("n_chunks")
            ),
            F.lit(0),
        ).cast("long").alias("dup_milli"),
    )


# --------------------------------------------------------------------------
# Persisted content-addressable chunk index (the CAS / incremental-dedup shape)
# --------------------------------------------------------------------------

_CIDX_BUCKETS = 64  # hash-prefix partition dirs
_CIDX_QUERY_MOD = 4  # doc_id % 4 == 0 plays the incoming batch

_CHUNK_INDEX_ORACLE = f"""
WITH {_CDC_CHUNK_CTES},
chd AS (SELECT DISTINCT doc_id, chash FROM ch),
pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_shared
  FROM chd a JOIN chd b ON a.chash = b.chash AND a.doc_id < b.doc_id
  WHERE a.doc_id % {_CIDX_QUERY_MOD} = 0 OR b.doc_id % {_CIDX_QUERY_MOD} = 0
  GROUP BY 1, 2)
SELECT doc_id_1, doc_id_2, CAST(n_shared AS BIGINT) AS n_shared
FROM pairs
"""


def ensure_chunk_index(spark: SparkSession, sf: str) -> str:
    """Build-once accessor for the persisted chunk-hash index of a corpus:
    distinct (doc_id, chash) rows partitioned on disk by a 64-way hash
    prefix bucket — the content-addressable-store layout, where a probe
    opens only its own buckets' files. Cache identity (mtime+layout tag,
    keepalive, TTL sweep) is scratch.cache_dir's."""
    import os

    index_dir = cache_dir(
        "ckidx", sf, "documents",
        salt=f"{_CIDX_BUCKETS}:{_CDC_W}:{_CDC_D}:v1",
    )
    if not os.path.exists(index_dir + "/chunks/_SUCCESS"):
        ch = cdc_chunk_hashes(
            ingest_binary(spark, sf).select("doc_id", "payload")
        ).distinct()
        ch.withColumn("bucket", _chunk_bucket()).repartition(
            "bucket"
        ).write.partitionBy("bucket").mode("overwrite").parquet(
            index_dir + "/chunks"
        )
    return index_dir


def _chunk_bucket():
    """Bucket = first 8 hex chars of the chunk md5 mod _CIDX_BUCKETS —
    derived from the hash itself so index writers and probers can never
    disagree."""
    return F.pmod(
        F.conv(F.substring("chash", 1, 8), 16, 10).cast("long"),
        F.lit(_CIDX_BUCKETS),
    )


@query(
    "mm_chunk_index",
    oracle=_CHUNK_INDEX_ORACLE,
    doc=f"PERSISTED content-addressable chunk index + incoming-batch probe "
    "— the incremental chunk-dedup shape of a dedupe store: the corpus's "
    "content-defined chunk hashes (mm_cdc_chunking's mechanism) live on "
    f"disk partitioned by a {_CIDX_BUCKETS}-way hash-prefix bucket; an "
    f"incoming batch (doc_id % {_CIDX_QUERY_MOD} == 0 plays it) chunks "
    "map-only, probes ONLY its buckets' partition dirs (static partition "
    "filter -> file skipping at rest), and reports (query, corpus doc, "
    "shared distinct chunks) overlap pairs. Pairs with BOTH sides in the "
    "batch are counted once via a distinct-chunk count (each side also "
    "probes from the other direction). Oracle = the exact all-pairs "
    "shared-chunk SQL restricted to pairs touching the batch, so the "
    "match certifies index completeness across the "
    "build->persist->probe round trip — nothing is lost at rest. At "
    "100 TB this is dedupe-store ingest: new data never re-scans the "
    "corpus, it opens bytes/(chunk x buckets) of index per probe bucket.",
)
def mm_chunk_index(spark: SparkSession, sf: str) -> DataFrame:
    index_dir = ensure_chunk_index(spark, sf)
    queries = ingest_binary(spark, sf).filter(
        F.col("doc_id") % _CIDX_QUERY_MOD == 0
    )
    # localCheckpoint: two actions over the Python chunking pass (bucket
    # collect + the final aggregation) — the minhash_index_probe lesson
    qch = (
        cdc_chunk_hashes(queries.select("doc_id", "payload"))
        .distinct()
        .withColumn("bucket", _chunk_bucket())
        # lazy: the bucket collect below materializes it
        .localCheckpoint(eager=False)
    )
    probes = [r.bucket for r in qch.select("bucket").distinct().collect()]
    idx = spark.read.parquet(index_dir + "/chunks").filter(
        F.col("bucket").isin(probes)  # static partition filter -> file skip
    )
    pairs = (
        qch.select(F.col("doc_id").alias("q_id"), "chash")
        .join(idx.select("doc_id", "chash"), "chash")
        .filter(F.col("doc_id") != F.col("q_id"))
        .select(
            F.least("q_id", "doc_id").alias("doc_id_1"),
            F.greatest("q_id", "doc_id").alias("doc_id_2"),
            "chash",
        )
    )
    return pairs.groupBy("doc_id_1", "doc_id_2").agg(
        F.count_distinct("chash").cast("long").alias("n_shared")
    )
