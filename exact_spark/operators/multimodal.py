"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata (project north star).

The Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested; the actual media decode is stubbed behind
an import-try (decode libraries are not in this container) with a
deterministic fake, clearly marked, per the build contract.

Payloads here are synthesized from ``documents.text`` (utf-8 bytes) so the
binary path is exercised end-to-end on the driver's tables.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exact_spark import artifacts, io
from exact_spark.registry import register

try:  # decode libs absent in this environment — plumbing stays real
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def with_binary_payload(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Attach the opaque payload + typed metadata columns (the multimodal
    table schema: payload BINARY, meta STRUCT<kind, mime, n_bytes>)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(f"application/x-fake-{kind}").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def decode_features(df: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Decode / feature-extract over binary payloads via mapInPandas.

    Real decode (PIL etc.) is NOT available here; the stub derives
    deterministic pseudo-features so the Arrow batch shape, schema, and
    partitioning behavior are the ones a real decoder would see. Swap
    ``_decode_batch`` for the real thing when the codec libraries exist.

    The stub features are deliberately EXACT byte math — integer byte
    histogram stats (distinct bytes, fixed-point Simpson concentration
    index) and md5-derived dimensions — rather than float entropy/crc32,
    so the whole decode path is bit-reproducible across engines and
    partitionings and the query stays DuckDB-oracle-checkable.
    """
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_distinct_bytes", T.LongType()),
            T.StructField("simpson_fx", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("n_frames", T.LongType()),
        ]
    )

    def _decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if _HAVE_PIL:  # pragma: no cover - not in this container
                    raise NotImplementedError("real image decode: wire PIL here")
                # STUB: deterministic fake decode (exact integer byte math)
                n = len(b)
                counts = np.bincount(np.frombuffer(b, dtype=np.uint8), minlength=256)
                n_distinct = int((counts > 0).sum())
                sumsq = int((counts.astype(np.int64) ** 2).sum())
                simpson_fx = (1_000_000_000 * sumsq) // (n * n) if n else 0
                h = int(hashlib.md5(b).hexdigest()[:8], 16)
                rows.append(
                    (int(doc_id), n, n_distinct, simpson_fx,
                     16 + h % 64, 16 + (h // 256) % 64, 1 + (h // 65536) % 8)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "n_distinct_bytes",
                               "simpson_fx", "width", "height", "n_frames"]
            )

    return df.select("doc_id", "payload").mapInPandas(_decode_batch, schema=schema)


def _sql_hex_int(expr: str, n_hex: int) -> str:
    """DuckDB: parse the first n_hex chars of a hex digest into a BIGINT
    (digit-weighted sum; exact — 16^(n_hex-1) fits a double for n_hex<=13)."""
    return (
        f"CAST(list_sum(list_transform(range(1, {n_hex} + 1), "
        f"i -> (strpos('0123456789abcdef', substr({expr}, i, 1)) - 1) "
        f"* CAST(power(16, {n_hex} - i) AS BIGINT))) AS BIGINT)"
    )


@register(
    "multimodal_binary_meta",
    sql="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
    doc="Multimodal table plumbing: opaque binary payload sizing + content "
    "hash — the metadata path is plain column ops, oracle-checked.",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("payload_md5"),
    )


@register(
    "multimodal_decode_features",
    sql=f"""
    WITH b AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx, md5(text) AS dig,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    pos AS (
        SELECT doc_id, substr(hx, 2 * j + 1, 2) AS byte
        FROM b, UNNEST(range(0, n)) AS t(j)
    ),
    hist AS (
        SELECT doc_id, byte, count(*) AS c FROM pos GROUP BY doc_id, byte
    ),
    stats AS (
        SELECT doc_id,
               count(*) AS n_distinct_bytes,
               CAST(sum(c * c) AS BIGINT) AS sumsq
        FROM hist GROUP BY doc_id
    ),
    h AS (SELECT doc_id, {_sql_hex_int('dig', 8)} AS hv, n FROM b)
    SELECT h.doc_id,
           CAST(h.n AS BIGINT) AS n_bytes,
           CAST(COALESCE(s.n_distinct_bytes, 0) AS BIGINT) AS n_distinct_bytes,
           CAST(CASE WHEN h.n = 0 THEN 0
                ELSE (1000000000 * COALESCE(s.sumsq, 0)) // (h.n * h.n)
           END AS BIGINT) AS simpson_fx,
           16 + hv % 64 AS width,
           16 + (hv // 256) % 64 AS height,
           1 + (hv // 65536) % 8 AS n_frames
    FROM h LEFT JOIN stats s ON s.doc_id = h.doc_id
    """,
    doc="Binary decode/feature-extract via Arrow-batched mapInPandas "
    "(deterministic stub decoder; real codec wires into _decode_batch). "
    "Stub features are exact integer byte math, so the mapInPandas path "
    "itself is hash-checked against the DuckDB oracle.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return decode_features(with_binary_payload(docs))


# --- video path: metadata-driven frame sampling -----------------------------

_FRAME_K = 6


@register(
    "multimodal_frame_sample",
    sql=f"""
    WITH v AS (
        SELECT doc_id, CAST(1 + (n_chars % 120) AS BIGINT) AS n_frames
        FROM documents
    )
    SELECT doc_id, n_frames,
           CAST(FLOOR(j * n_frames / LEAST({_FRAME_K}, n_frames)) AS BIGINT) AS frame_idx
    FROM v, UNNEST(range(0, LEAST({_FRAME_K}, n_frames))) AS t(j)
    """,
    doc="Video frame-sampling plan: each clip's frame count (typed "
    "metadata; synthesized deterministically from n_chars here) expands to "
    "a uniform-stride sample of at most K frame indices via explode — the "
    "step that shifts downstream decode parallelism from per-video to "
    "per-frame, so one 10-hour clip cannot straggle a stage. Pure integer "
    "arithmetic, oracle-checked; the per-frame decode itself is the "
    "mapInPandas stub path (multimodal_frame_features).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    return _frame_idx_explode(docs.select("doc_id", "n_chars")).select(
        "doc_id", "n_frames", "frame_idx"
    )


def _frame_idx_explode(docs_sel: DataFrame) -> DataFrame:
    """Uniform-stride frame-index sampling (the multimodal_frame_sample
    spec), applied in-row: the input needs an ``n_chars`` column; every
    other column (e.g. the payload) rides through the explode, so a
    consumer that needs frames WITH payloads gets both from ONE scan
    instead of re-scanning documents and joining the sample back."""
    n_frames = (1 + F.col("n_chars") % 120).cast("long")
    k = F.least(F.lit(_FRAME_K).cast("long"), F.col("n_frames"))
    idx = F.transform(
        F.sequence(F.lit(0).cast("long"), k - 1),
        lambda j: F.floor(j * F.col("n_frames") / k).cast("long"),
    )
    keep = [c for c in docs_sel.columns if c != "n_chars"]
    return docs_sel.select(*keep, n_frames.alias("n_frames")).select(
        *keep, "n_frames", F.explode(idx).alias("frame_idx")
    )


def frame_features(frames_with_payload: DataFrame) -> DataFrame:
    """Per-frame decode/feature stub over (doc_id, frame_idx, payload) via
    Arrow-batched mapInPandas — the real video codec wires in here; the
    stub derives a deterministic per-frame signature so batch shape,
    schema and per-frame partitioning are the ones a real decoder sees."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("frame_sig", T.LongType()),
            T.StructField("brightness", T.DoubleType()),
        ]
    )

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            if pdf.empty:
                continue
            if _HAVE_PIL:  # pragma: no cover - not in this container
                raise NotImplementedError("real frame decode: wire the codec here")
            sigs, bright = [], []
            for payload, fi in zip(pdf["payload"], pdf["frame_idx"]):
                # STUB: deterministic fake frame decode — md5 over
                # payload:frame_idx (exact byte math; brightness is one
                # float division of identical small ints, bit-identical
                # across engines)
                s = int(
                    hashlib.md5(
                        bytes(payload) + b":" + str(int(fi)).encode()
                    ).hexdigest()[:12],
                    16,
                )
                sigs.append(s)
                bright.append((s % 256) / 255.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "frame_sig": pd.Series(sigs, dtype="int64"),
                    "brightness": pd.Series(bright, dtype="float64"),
                }
            )

    return frames_with_payload.select("doc_id", "frame_idx", "payload").mapInPandas(
        _batch, schema=schema
    )


@register(
    "multimodal_frame_features",
    sql=f"""
    WITH v AS (
        SELECT doc_id, text, CAST(1 + (n_chars % 120) AS BIGINT) AS n_frames
        FROM documents
    ),
    fr AS (
        SELECT doc_id, text,
               CAST(FLOOR(j * n_frames / LEAST({_FRAME_K}, n_frames)) AS BIGINT)
                   AS frame_idx
        FROM v, UNNEST(range(0, LEAST({_FRAME_K}, n_frames))) AS t(j)
    ),
    sig AS (
        SELECT doc_id, frame_idx,
               {_sql_hex_int("md5(text || ':' || CAST(frame_idx AS VARCHAR))", 12)}
                   AS frame_sig
        FROM fr
    )
    SELECT doc_id, frame_idx, frame_sig,
           CAST(frame_sig % 256 AS DOUBLE) / 255.0 AS brightness
    FROM sig
    """,
    doc="Per-frame feature extraction over the sampled frame set: ONE "
    "documents scan carries the payload through the frame-index explode "
    "straight into the Arrow mapInPandas stub decoder (one row per frame "
    "in, one feature row per frame out) — no second scan, no join. The "
    "md5-based stub signature keeps the whole per-frame path "
    "hash-checked against the DuckDB oracle.",
)
def multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    # ONE scan: the payload rides through the frame-index explode, so the
    # sampled frames arrive at the Arrow decoder without the second
    # documents scan + doc_id shuffle join the old shape paid (guide
    # §2.4; the explode replicates each payload at most K times, exactly
    # what the join output held anyway)
    frames = _frame_idx_explode(
        docs.select(
            "doc_id", "n_chars", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
    )
    return frame_features(frames)


# --- audio path: overlapped waveform framing --------------------------------
# The payload bytes read as an 8-bit unsigned mono waveform (the synthesized
# stand-in; a real PCM decoder wires into the same batch function). Framing
# is the standard 50%-overlap analysis window: _AUDIO_FRAME samples per
# frame, _AUDIO_HOP hop. Stub features are EXACT integer DSP — energy
# (sum of squared deviations from the 128 midline), zero-crossing count,
# peak deviation — so the whole audio path hash-matches the DuckDB oracle
# like the image/video stubs.

_AUDIO_FRAME = 256
_AUDIO_HOP = 128
_AUDIO_RATE = 8000  # Hz, synthesized metadata


def audio_frame_features(framed: DataFrame) -> DataFrame:
    """Per-frame integer DSP over the sliced waveform chunk (Arrow batches;
    a real codec/resampler replaces the byte math here)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("start_sample", T.LongType()),
            T.StructField("energy_fx", T.LongType()),
            T.StructField("n_zero_crossings", T.LongType()),
            T.StructField("peak_dev", T.LongType()),
        ]
    )

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id, fi, start, chunk in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["start_sample"], pdf["chunk"]
            ):
                v = np.frombuffer(bytes(chunk), dtype=np.uint8).astype(np.int64) - 128
                pos = v >= 0
                rows.append(
                    (
                        int(doc_id),
                        int(fi),
                        int(start),
                        int((v * v).sum()),
                        int((pos[1:] != pos[:-1]).sum()),
                        int(np.abs(v).max()) if v.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "start_sample",
                    "energy_fx", "n_zero_crossings", "peak_dev",
                ],
            )

    return framed.mapInPandas(_batch, schema=schema)


_SQL_HEXV = (
    "((strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1))"
)


@register(
    "multimodal_audio_windows",
    sql=f"""
    WITH b AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    frames AS (
        SELECT doc_id, hx, f AS frame_idx, f * {_AUDIO_HOP} AS start_sample
        FROM b, UNNEST(range(0, CASE WHEN n >= {_AUDIO_FRAME}
                                     THEN (n - {_AUDIO_FRAME}) // {_AUDIO_HOP} + 1
                                     ELSE 0 END)) AS t(f)
    ),
    samples AS (
        SELECT doc_id, frame_idx, start_sample,
               s AS pos, {_SQL_HEXV.replace('j', '(start_sample + s)')} - 128 AS v
        FROM frames, UNNEST(range(0, {_AUDIO_FRAME})) AS t(s)
    ),
    lagged AS (
        SELECT doc_id, frame_idx, start_sample, v,
               lag(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY pos) AS pv
        FROM samples
    )
    SELECT doc_id, frame_idx, CAST(start_sample AS BIGINT) AS start_sample,
           CAST(SUM(v * v) AS BIGINT) AS energy_fx,
           CAST(SUM(CASE WHEN pv IS NOT NULL
                          AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_crossings,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak_dev
    FROM lagged
    GROUP BY doc_id, frame_idx, start_sample
    """,
    doc="Audio modality path (see section comment): the payload as an 8-bit "
    "mono waveform framed into {fr}-sample windows at {hop}-sample hop "
    "(50% overlap, the standard analysis framing), per-frame integer DSP "
    "stub features via Arrow mapInPandas — energy, zero crossings, peak. "
    "Plan shape: frames EXPLODE from the byte-length metadata (so decode "
    "parallelism is per-frame, exactly like the video path), each frame "
    "carries only its {fr}-byte slice into the Python batch (never the "
    "whole payload), and the features are exact integers — the Arrow "
    "path itself is hash-checked against the oracle.".format(
        fr=_AUDIO_FRAME, hop=_AUDIO_HOP
    ),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents", spread=True)
    pay = with_binary_payload(docs, kind="audio").filter(
        # sequence(0, -1) would generate a DESCENDING range — short docs
        # must drop before the explode, not after
        F.col("meta")["n_bytes"] >= _AUDIO_FRAME
    )
    n = F.col("meta")["n_bytes"]
    n_frames = ((n - _AUDIO_FRAME) / _AUDIO_HOP).cast("long") + 1
    framed = (
        pay.select(
            "doc_id",
            "payload",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * _AUDIO_HOP).alias("start_sample"),
            F.expr(
                f"substring(payload, CAST(frame_idx * {_AUDIO_HOP} + 1 AS INT), {_AUDIO_FRAME})"
            ).alias("chunk"),
        )
    )
    return audio_frame_features(framed)


@register(
    "multimodal_binaryfile_ingest",
    # the staged blobs are exactly the UTF-8 bytes of documents.text for
    # doc_id < 64, so the post-ingest feature table is the decode oracle's
    # byte math restricted to that slice, with length_matches an invariant
    # (binaryFile's `length` IS the payload size)
    sql="""
    WITH b AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE doc_id < 64
    ),
    pos AS (
        SELECT doc_id, substr(hx, 2 * j + 1, 2) AS byte
        FROM b, UNNEST(range(0, n)) AS t(j)
    ),
    hist AS (
        SELECT doc_id, byte, count(*) AS c FROM pos GROUP BY doc_id, byte
    ),
    stats AS (
        SELECT doc_id,
               count(*) AS n_distinct_bytes,
               CAST(sum(c * c) AS BIGINT) AS sumsq
        FROM hist GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_bytes,
           TRUE AS length_matches,
           CAST(COALESCE(s.n_distinct_bytes, 0) AS BIGINT) AS n_distinct_bytes,
           CAST(CASE WHEN b.n = 0 THEN 0
                ELSE (1000000000 * COALESCE(s.sumsq, 0)) // (b.n * b.n)
           END AS BIGINT) AS simpson_fx
    FROM b LEFT JOIN stats s ON s.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
    doc="The REAL multimodal ingestion path (the other registered "
    "multimodal queries synthesize payloads in-plan): documents staged "
    "as one opaque file each, read back with Spark's `binaryFile` "
    "source — (path, modificationTime, length, content) — and fed "
    "through the same deterministic decode stub. At scale this source "
    "is how a directory of images/audio lands in a table: file listing "
    "is distributed, each task reads only its files' bytes, and "
    "`pathGlobFilter`/`recursiveFileLookup` prune at the source. Result "
    "aggregates the decoded features, keyed by the doc id parsed from "
    "the filename.",
)
def multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pathlib
    import shutil
    import tempfile

    work = pathlib.Path(tempfile.mkdtemp(prefix="exact_spark_binf_"))
    try:
        docs = (
            io.load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 64)
            .select("doc_id", "text")
            .collect()
        )
        blob_dir = work / "blobs"
        blob_dir.mkdir()
        for r in docs:
            (blob_dir / f"{r['doc_id']:06d}.bin").write_bytes(r["text"].encode("utf-8"))

        binf = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(str(blob_dir))
        )
        payloads = binf.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
            F.col("length").alias("n_bytes_src"),
        )
        feats = decode_features(payloads)
        out = (
            feats.join(payloads.select("doc_id", "n_bytes_src"), "doc_id")
            .select(
                "doc_id",
                "n_bytes",
                (F.col("n_bytes") == F.col("n_bytes_src")).alias("length_matches"),
                "n_distinct_bytes",
                "simpson_fx",
            )
            .orderBy("doc_id")
        )
        # materialize BEFORE the finally deletes the staged blobs — the
        # returned frame must not lazily re-read them
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- spatial tiling (ViT-style patch grid for image decode parallelism) ------

_TILE = 32  # tile edge in px
_IMG_W_MOD, _IMG_H_MOD = 193, 151  # synthesized dims: 64..256-ish px


@register(
    "multimodal_image_tiles",
    sql=f"""
    WITH dims AS (
        SELECT doc_id,
               CAST(64 + (n_chars % {_IMG_W_MOD}) AS BIGINT) AS width,
               CAST(64 + ((n_chars * 7) % {_IMG_H_MOD}) AS BIGINT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           tx.tile_x, ty.tile_y,
           tx.tile_x * {_TILE} AS x0,
           ty.tile_y * {_TILE} AS y0,
           LEAST({_TILE}, width - tx.tile_x * {_TILE}) AS tile_w,
           LEAST({_TILE}, height - ty.tile_y * {_TILE}) AS tile_h
    FROM dims,
         UNNEST(range(0, CAST(CEIL(width / {_TILE}.0) AS BIGINT))) AS tx(tile_x),
         UNNEST(range(0, CAST(CEIL(height / {_TILE}.0) AS BIGINT))) AS ty(tile_y)
    """,
    doc="Image tiling plan (the spatial twin of multimodal_frame_sample's "
    "temporal split — ViT-style patch grids, map tiles, SAM crops): each "
    "image's typed dimensions (synthesized deterministically from "
    "n_chars here) expand to a clipped {t}x{t} tile grid via a double "
    "explode, shifting decode parallelism from per-image to per-tile so "
    "one gigapixel scan cannot straggle a stage. Edge tiles clip to the "
    "image bounds (tile_w/tile_h < {t} on the last row/column) instead "
    "of padding — the downstream decoder sees exact crop rects. Pure "
    "integer arithmetic, zero shuffles: the grid explodes in-row.".format(
        t=_TILE
    ),
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    width = (64 + F.col("n_chars") % _IMG_W_MOD).cast("long")
    height = (64 + (F.col("n_chars") * 7) % _IMG_H_MOD).cast("long")
    dims = docs.select("doc_id", width.alias("width"), height.alias("height"))
    n_tx = F.ceil(F.col("width") / float(_TILE)).cast("long")
    n_ty = F.ceil(F.col("height") / float(_TILE)).cast("long")
    return (
        dims.select(
            "doc_id",
            "width",
            "height",
            F.explode(F.sequence(F.lit(0).cast("long"), n_tx - 1)).alias("tile_x"),
            n_ty.alias("__n_ty"),
        )
        .select(
            "doc_id",
            "width",
            "height",
            "tile_x",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n_ty") - 1)).alias(
                "tile_y"
            ),
        )
        .select(
            "doc_id",
            "width",
            "height",
            "tile_x",
            "tile_y",
            (F.col("tile_x") * _TILE).alias("x0"),
            (F.col("tile_y") * _TILE).alias("y0"),
            F.least(F.lit(_TILE).cast("long"), F.col("width") - F.col("tile_x") * _TILE).alias(
                "tile_w"
            ),
            F.least(
                F.lit(_TILE).cast("long"), F.col("height") - F.col("tile_y") * _TILE
            ).alias("tile_h"),
        )
    )


# --- contrastive-training pair mining (caption pairs + hard negatives) -------

# the composer below resolves the registered sim_knn_graph spec at import
# time, so the similarity module must have registered first
from exact_spark.operators import similarity as _similarity  # noqa: E402,F401


def _hard_negative_sql() -> str:
    """Composes the registered sim_knn_graph spec: rank-1 neighbor = the
    hardest in-batch negative for each anchor."""
    from exact_spark.registry import REGISTRY

    knn = REGISTRY["sim_knn_graph"].sql
    return f"""
    WITH knn AS ({knn})
    SELECT k.vec_id AS anchor_vec,
           dp.doc_id AS positive_doc,
           k.neighbor_id AS negative_vec,
           dn.doc_id AS negative_doc,
           k.cosine AS negative_cosine,
           dp.n_chars AS positive_chars,
           dn.n_chars AS negative_chars
    FROM knn k
    JOIN documents dp ON dp.doc_id = k.vec_id
    JOIN documents dn ON dn.doc_id = k.neighbor_id
    WHERE k.rank = 1
    """


@register(
    "multimodal_hard_negatives",
    sql=_hard_negative_sql(),  # composes the registered sibling spec
    doc="Hard-negative mining for contrastive training (the CLIP-style "
    "pair-prep step: each anchor's most-similar NON-matching item is "
    "the negative that actually teaches the model — random negatives "
    "are trivially separable): anchors pair with their caption document "
    "(doc_id = vec_id in this corpus), the hardest negative is the "
    "rank-1 neighbor from the REGISTERED capped-LSH kNN graph (never "
    "all-pairs), and both sides' caption metadata attach for batch "
    "construction. Plan shape: the graph's window rank already isolates "
    "rank 1; each edge fans out to its two (role, doc) sides in-row so "
    "ONE documents scan serves both metadata attaches — the two-join "
    "form re-scanned the corpus once per side; one bounded groupBy on "
    "the edge set (<= one rank-1 edge per anchor) reassembles the "
    "tuple, with the both-sides-matched filter reproducing the two "
    "inner joins exactly.",
)
def multimodal_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = artifacts.table("knng", spark, sf_dir).filter(F.col("rank") == 1)
    docs = io.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # in-row fan-out to (is_pos, doc_id): ONE documents scan attaches both
    # sides' n_chars (the two-join form scanned the corpus once per side —
    # guide §2.4). The groupBy key set is exactly the rank-1 edge (unique
    # per anchor), and requiring both roles back reproduces the two inner
    # joins: an edge drops iff either side is absent from documents.
    sides = g.select(
        "vec_id",
        "neighbor_id",
        "cosine",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("is_pos"), F.col("vec_id").alias("doc_id")),
                F.struct(
                    F.lit(0).alias("is_pos"), F.col("neighbor_id").alias("doc_id")
                ),
            )
        ).alias("s"),
    ).select(
        "vec_id",
        "neighbor_id",
        "cosine",
        F.col("s.is_pos").alias("is_pos"),
        F.col("s.doc_id").alias("doc_id"),
    )
    return (
        sides.join(docs, "doc_id")
        .groupBy("vec_id", "neighbor_id", "cosine")
        .agg(
            F.max(F.when(F.col("is_pos") == 1, F.col("n_chars"))).alias(
                "positive_chars"
            ),
            F.max(F.when(F.col("is_pos") == 0, F.col("n_chars"))).alias(
                "negative_chars"
            ),
            F.count(F.lit(1)).alias("__n_sides"),
        )
        .filter(F.col("__n_sides") == 2)
        .select(
            F.col("vec_id").alias("anchor_vec"),
            F.col("vec_id").alias("positive_doc"),
            F.col("neighbor_id").alias("negative_vec"),
            F.col("neighbor_id").alias("negative_doc"),
            F.col("cosine").alias("negative_cosine"),
            "positive_chars",
            "negative_chars",
        )
    )


# --- aspect-ratio bucketing (batched image-training data layout) --------------

# SDXL-style resolution ladder: every image trains at the bucket resolution
# nearest its native aspect ratio, so a micro-batch holds one uniform shape.
_AR_BUCKETS: list[tuple[int, int]] = [
    (1024, 1024),
    (1152, 896),
    (896, 1152),
    (1216, 832),
    (832, 1216),
    (1344, 768),
    (768, 1344),
]
_AR_BATCH = 64  # images per micro-batch within a bucket

import math as _math  # noqa: E402

# |w/h - bw/bh| comparisons kept in EXACT integer space: the common scale
# D = lcm(bh_i) makes d_i = |w*bh_i - h*bw_i| * (D/bh_i) proportional to the
# true ratio distance for a fixed image (shared 1/(h*D) factor), so argmin
# over buckets needs no floating point. Encoding key = d_i*8 + i makes one
# integer MIN both pick the winner and break ties toward the earlier bucket.
_AR_D = _math.lcm(*[bh for _, bh in _AR_BUCKETS])


def _ar_keys_sql() -> str:
    ks = []
    for i, (bw, bh) in enumerate(_AR_BUCKETS):
        m = _AR_D // bh
        ks.append(f"ABS(w * {bh} - h * {bw}) * {m} * 8 + {i}")
    return "LEAST(" + ", ".join(ks) + ")"


def _ar_case(expr: str, vals: list[int]) -> str:
    arms = " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(vals))
    return f"CAST(CASE {expr} {arms} END AS BIGINT)"


@register(
    "multimodal_aspect_bucket",
    sql=f"""
    WITH dims AS (
        SELECT doc_id,
               CAST(64 + (n_chars % {_IMG_W_MOD}) AS BIGINT) AS w,
               CAST(64 + ((n_chars * 7) % {_IMG_H_MOD}) AS BIGINT) AS h
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, CAST({_ar_keys_sql()} % 8 AS BIGINT) AS bucket_idx
        FROM dims
    )
    SELECT bucket_idx,
           {_ar_case("bucket_idx", [bw for bw, _ in _AR_BUCKETS])} AS bucket_w,
           {_ar_case("bucket_idx", [bh for _, bh in _AR_BUCKETS])} AS bucket_h,
           count(*) AS n_images,
           (count(*) + {_AR_BATCH - 1}) // {_AR_BATCH} AS n_microbatches
    FROM assigned GROUP BY bucket_idx
    """,
    doc="Aspect-ratio bucketing of the image corpus (SDXL-style resolution "
    "ladder): each image (typed dims synthesized from n_chars, the same "
    "derivation as multimodal_image_tiles) is assigned to the ladder "
    "resolution with the nearest aspect ratio, and the output is the "
    "bucket census plus the micro-batch count at batch={batch} — the "
    "shuffle-planning table a multimodal training loader needs so every "
    "GPU batch holds one uniform shape instead of padding to the max. "
    "Cross-engine exactness: the argmin over buckets runs entirely in "
    "integer space (|w*bh - h*bw| cross-multiplication scaled to the "
    "lcm of bucket heights, winner+tie-break packed into one MIN key), "
    "so no float ratio ever materializes. Plan shape: the assignment is "
    "a per-row expression inside the scan projection (whole-stage "
    "codegen, zero shuffles); the census is ONE map-side-combinable "
    "groupBy on a 7-value key.".format(batch=_AR_BATCH),
)
def multimodal_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load(spark, sf_dir, "documents")
    w = (64 + F.col("n_chars") % _IMG_W_MOD).cast("long")
    h = (64 + (F.col("n_chars") * 7) % _IMG_H_MOD).cast("long")
    keys = [
        (F.abs(w * bh - h * bw) * (_AR_D // bh) * 8 + F.lit(i)).cast("long")
        for i, (bw, bh) in enumerate(_AR_BUCKETS)
    ]
    bidx = (F.least(*keys) % 8).cast("long")
    w_arr = F.array(*[F.lit(bw).cast("long") for bw, _ in _AR_BUCKETS])
    h_arr = F.array(*[F.lit(bh).cast("long") for _, bh in _AR_BUCKETS])
    assigned = docs.select(
        bidx.alias("bucket_idx"),
        F.element_at(w_arr, bidx.cast("int") + 1).alias("bucket_w"),
        F.element_at(h_arr, bidx.cast("int") + 1).alias("bucket_h"),
    )
    return assigned.groupBy("bucket_idx", "bucket_w", "bucket_h").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.expr(f"(count(*) + {_AR_BATCH - 1}) DIV {_AR_BATCH}").alias("n_microbatches"),
    )


# --- perceptual-hash image near-dup (the multimodal sibling of dedup_simhash) -
# Average-hash (aHash), the classic perceptual image fingerprint: resize to a
# tiny grayscale grid, bit = cell intensity > image mean. Real pixels need the
# codec stub wired (PIL absent), so the "grayscale" here is the decoded-payload
# byte stream itself — the SAME stand-in multimodal_decode_features already
# oracle-checks — split into _PHASH_BITS contiguous regions (the 1-D analog of
# the resize): bit_r = mean(region_r bytes) > mean(all bytes). The comparison
# runs in EXACT integer space (sum_r * n_total > sum_total * cnt_r), so the
# hash is bit-identical across engines and partitionings. Candidate pairs
# reuse the banded-Hamming plan shape of dedup_simhash_pairs: 4 bands of 8
# bits, docs sharing ANY band value collide, capped collect-expand, exact
# Hamming recheck — by pigeonhole a pair within Hamming distance 3 always
# shares at least one intact band, so recall at the threshold is guaranteed,
# never probabilistic.

_PHASH_BITS = 32  # regions (power of 2: pos*32/n divides exactly in binary)
_PHASH_BANDS = 4
_PHASH_BAND_W = _PHASH_BITS // _PHASH_BANDS
_PHASH_MAX_HD = 3  # <= bands - 1, so banding guarantees recall
_PHASH_BUCKET_CAP = 200  # degenerate-bucket guard, same value as the siblings


def _phash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> 32-char '0'/'1' average-hash over the payload bytes.

    Plan shape: the hex parse + per-byte region tag is one in-row explode
    (per-doc work O(bytes), no corpus state); the 32 region sums + totals
    collapse through ONE map-side-combinable groupBy keyed on doc_id — the
    same linear shape as dedup_simhash's vote aggregation.
    """
    docs = io.load(spark, sf_dir, "documents", spread=True)
    hx = F.lower(F.hex(F.encode(F.col("text"), "UTF-8")))
    staged = docs.select("doc_id", hx.alias("hx"))
    n = (F.length("hx") / 2).cast("long")
    bv = F.transform(
        F.sequence(F.lit(0).cast("long"), n - 1),
        lambda i: F.conv(F.substring(F.col("hx"), i * 2 + 1, F.lit(2)), 16, 10).cast(
            "long"
        ),
    )
    b = staged.select(
        "doc_id", n.alias("n"), F.posexplode(bv).alias("pos0", "byte")
    )
    # pos0 * 32 / n: division by a power of two is exact in binary floating
    # point, so floor() matches DuckDB's integer // on every input
    region = F.floor(F.col("pos0") * _PHASH_BITS / F.col("n")).cast("int")
    tagged = b.select("doc_id", "byte", region.alias("region"))
    votes = tagged.groupBy("doc_id").agg(
        F.sum("byte").alias("ts"),
        F.count(F.lit(1)).alias("tc"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("region") == r, F.col("byte"))), F.lit(0)
            ).alias(f"s{r}")
            for r in range(_PHASH_BITS)
        ],
        *[
            F.sum(F.when(F.col("region") == r, 1).otherwise(0)).alias(f"c{r}")
            for r in range(_PHASH_BITS)
        ],
    )
    bits = [
        F.when(
            F.col(f"s{r}") * F.col("tc") > F.col("ts") * F.col(f"c{r}"),
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for r in range(_PHASH_BITS)
    ]
    return votes.select("doc_id", F.concat(*bits).alias("phash"))


_SQL_PHASH = f"""
    raw AS (
        SELECT doc_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    bytes AS (
        SELECT doc_id, n,
               (pos0 * {_PHASH_BITS}) // n AS region,
               (strpos('0123456789abcdef', substr(hx, CAST(pos0 * 2 + 1 AS INT), 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(hx, CAST(pos0 * 2 + 2 AS INT), 1)) - 1) AS byte
        FROM (SELECT doc_id, hx, n, unnest(range(0, n)) AS pos0 FROM raw)
    ),
    regs AS (
        SELECT doc_id, region, SUM(byte) AS s, COUNT(*) AS c
        FROM bytes GROUP BY doc_id, region
    ),
    tot AS (SELECT doc_id, SUM(s) AS ts, SUM(c) AS tc FROM regs GROUP BY doc_id),
    allregs AS (
        SELECT t.doc_id, r.r AS region,
               COALESCE(g.s, 0) AS s, COALESCE(g.c, 0) AS c, t.ts, t.tc
        FROM tot t
        CROSS JOIN (SELECT unnest(range({_PHASH_BITS})) AS r) r
        LEFT JOIN regs g ON g.doc_id = t.doc_id AND g.region = r.r
    ),
    hashes AS (
        SELECT doc_id,
               string_agg(CASE WHEN s * tc > ts * c THEN '1' ELSE '0' END,
                          '' ORDER BY region) AS phash
        FROM allregs GROUP BY doc_id
    )
"""


@register(
    "multimodal_phash_neardup",
    sql=f"""
    WITH {_SQL_PHASH},
    probes AS (
        SELECT doc_id, b.b AS band,
               substr(phash, CAST(b.b * {_PHASH_BAND_W} + 1 AS INT), {_PHASH_BAND_W}) AS val
        FROM hashes CROSS JOIN (SELECT unnest(range({_PHASH_BANDS})) AS b) b
    ),
    grouped AS (
        SELECT band, val, list_sort(list(doc_id)) AS ids
        FROM probes GROUP BY band, val
        HAVING count(*) BETWEEN 2 AND {_PHASH_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT g.ids[i] AS doc_a, g.ids[j] AS doc_b
        FROM grouped g,
             unnest(range(1, len(g.ids) + 1)) AS t1(i),
             unnest(range(1, len(g.ids) + 1)) AS t2(j)
        WHERE i < j
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT c.doc_a, c.doc_b,
               {' + '.join(f"CASE WHEN substr(ha.phash, {p}, 1) <> substr(hb.phash, {p}, 1) THEN 1 ELSE 0 END" for p in range(1, _PHASH_BITS + 1))} AS hamming
        FROM cand c
        JOIN hashes ha ON ha.doc_id = c.doc_a
        JOIN hashes hb ON hb.doc_id = c.doc_b
    ) WHERE hamming <= {_PHASH_MAX_HD}
    """,
    doc="Perceptual-hash image near-dup — the multimodal sibling of "
    "dedup_simhash_pairs: a 32-bit average-hash (aHash) fingerprint over "
    "each payload's decoded byte stream (bit = region mean > global mean, "
    "compared in exact integer space so the hash is engine- and "
    "partitioning-invariant), then banded-Hamming candidate generation — "
    "4 bands of 8 bits, one shuffle keyed on (band, value), capped "
    "collect-expand, exact Hamming <= 3 recheck. Pigeonhole over 4 bands "
    "makes recall at the threshold GUARANTEED, not probabilistic. At "
    "100 TB the hash is one linear pass (per-doc state only) and the "
    "pair stage touches 32-bit fingerprints, never payloads; swap the "
    "byte-stream stand-in for real 8x8 grayscale cells at the documented "
    "codec wire-in and nothing downstream changes.",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = _phash_df(spark, sf_dir)
    # Carry the HASH through the band probes (guide §8: move the decision
    # metadata with the key): the Hamming recheck reads both hashes
    # in-row from the bucket list, so the per-byte posexplode + 66-way
    # vote aggregation behind _phash_df runs ONCE instead of three times
    # (probe branch + one re-join per pair side), and both join
    # exchanges disappear. Unlike the simhash Hamming ball, a shared
    # band does NOT bound the full-width distance, so the recheck here
    # also prunes candidates before the pair-dedup exchange.
    probes = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            "phash", b * _PHASH_BAND_W + 1, _PHASH_BAND_W
                        ).alias("val"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("p"),
    ).select("doc_id", "phash", "p.band", "p.val")
    grouped = (
        probes.groupBy("band", "val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "phash"))).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _PHASH_BUCKET_CAP))
    )

    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["phash"].alias("ha"),
                    y["phash"].alias("hb"),
                ),
            ),
        )
    )
    # Hamming OUTSIDE the lambda (higher-order array functions are
    # interpreted; this Project is codegen'd) and as one xor+popcount
    # over the parsed bit strings — identical value to the 32-position
    # compare: bit_count(a^b) IS the disagreement count.
    ham = F.bit_count(
        F.conv(F.col("p.ha"), 2, 10)
        .cast("long")
        .bitwiseXOR(F.conv(F.col("p.hb"), 2, 10).cast("long"))
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_MAX_HD)
        .distinct()
    )


def phash_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped mass of _PHASH_BUCKET_CAP on multimodal_phash_neardup's
    (band, value) key — same contract as the dedup censuses (nonzero when
    the cap binds); members keep redundant routes through the other 3
    bands, and the Hamming recheck prices residual precision."""
    from exact_spark.operators.dedup import _cap_census

    hashes = _phash_df(spark, sf_dir)
    probes = hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            "phash", b * _PHASH_BAND_W + 1, _PHASH_BAND_W
                        ).alias("val"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("p"),
    ).select("doc_id", "p.band", "p.val")
    return _cap_census(probes, ["band", "val"], _PHASH_BUCKET_CAP)
