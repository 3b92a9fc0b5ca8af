"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed in Arrow-batched pandas stages via mapInPandas.

Engine-surface addition for training-data pipelines (build brief). The
image/audio codec libraries are not in this container, so the *decode*
step is a clearly marked stub (deterministic fake features, or
NotImplementedError for real codec work) — but the Spark-side plumbing is
real and tested: binary column schema, mapInPandas batch iteration, Arrow
transfer, output schema declaration, partition-preserving shape.

Scale notes: mapInPandas streams Arrow record batches — constant memory
per task regardless of partition size; binary payloads never pass through
Python row-by-row.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load
from ..functions.scalar import fround
from ..queries import query

if TYPE_CHECKING:  # pandas only imported in executors at runtime
    import pandas as pd

FEATURE_SCHEMA = (
    "media_id bigint, kind string, payload_bytes bigint, "
    "fake_width int, fake_height int, fake_duration_ms bigint"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into the MEDIA envelope shape: payload =
    utf-8 bytes of the text (a stand-in for encoded image/audio bytes),
    kind cycled deterministically from doc_id."""
    # widen_scan was MEASURED AND REJECTED here (r12): repartitioning the
    # 5k-row local corpus to 32 partitions before the Arrow stage tripled
    # media_feature_extract's warm time (0.19 s -> 0.44 s) — per-task
    # Python-worker/Arrow-batch startup dominates rows this small. At
    # 100 TB the scan is already many tasks and the decode parallelizes
    # without help (guide §4.5: amortize worker init over large batches).
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def fake_decode_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """STUB decoder (build-brief mandated): deterministic fake features
    derived from payload bytes. A real deployment swaps the body for
    PIL/librosa/ffmpeg calls — the signature, schema and batch shape stay
    identical."""
    import pandas as pd  # executor-side import

    for pdf in batches:
        # Nullable Int dtypes, NOT astype("int64"): a NULL payload (a
        # document with no media) must yield NULL features — the plain
        # cast raises on NaN (or, via numpy, silently produces garbage
        # ints), and the SQL oracle's octet_length(NULL) is NULL.
        n = pdf["payload"].str.len().astype("Int64")
        yield pd.DataFrame({
            "media_id": pdf["media_id"],
            "kind": pdf["kind"],
            "payload_bytes": n,
            # Deterministic fakes: dimensions derived from content length.
            "fake_width": (n % 640 + 16).astype("Int32"),
            "fake_height": (n % 480 + 16).astype("Int32"),
            "fake_duration_ms": (n * 7).astype("Int64"),
        })


@query(
    "media_feature_extract",
    # The fake feature math is deterministic arithmetic on byte length, so
    # the mapInPandas path has a full SQL oracle despite being a UDF stage.
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS fake_height,
           CAST(octet_length(encode(text)) * 7 AS BIGINT) AS fake_duration_ms
    FROM documents
    """,
)
def media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    return media.mapInPandas(fake_decode_batches, schema=FEATURE_SCHEMA)


@query(
    "media_kind_stats",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           count(*) AS cnt,
           floor((avg(CAST(octet_length(encode(text)) AS DOUBLE))) * 100 + 0.5) / 100
               AS avg_bytes
    FROM documents GROUP BY 1
    """,
)
def media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped profile downstream of the decode stage — demonstrates that
    UDF output composes with ordinary relational aggregation."""
    decoded = media_feature_extract(spark, sf_dir)
    return (decoded.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 fround(F.avg(F.col("payload_bytes").cast("double")), 2)
                 .alias("avg_bytes")))


def resize_batches(width: int, height: int):
    """Parameterized STUB resize: returns a mapInPandas-compatible batch fn
    closed over the target dimensions (a real deployment swaps the body
    for PIL `Image.resize`; the closure/bind pattern, output schema and
    Arrow batch shape are the production ones)."""

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd  # executor-side import

        for pdf in batches:
            n = pdf["payload"].str.len().astype("int64")
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": width,
                "height": height,
                # stub: "resized payload" size scales with target area
                "payload_bytes": (width * height + n % 997).astype("int64"),
            })

    return fn


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage over the MEDIA envelope (plumbing real, decode faked)."""
    return media.mapInPandas(
        resize_batches(width, height),
        schema="media_id bigint, kind string, width int, height int, "
               "payload_bytes bigint")


FRAMES_PER_VIDEO = 4


def frame_sample_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """STUB frame sampler — the 1→N (UDTF) multimodal shape: each video
    row yields FRAMES_PER_VIDEO rows with evenly spaced fake timestamps.
    Real codecs replace the body (ffmpeg keyframe extraction); the
    row-expansion mechanics through Arrow batches are what's exercised."""
    import pandas as pd  # executor-side import

    for pdf in batches:
        vids = pdf[pdf["kind"] == "video"]
        if not len(vids):
            continue
        # Nullable Int64: a NULL payload still yields its frame rows,
        # with NULL timestamps (matching the oracle's NULL arithmetic);
        # the plain int64 cast raises on the NaN length.
        dur = vids["payload"].str.len().astype("Int64") * 7
        out = vids.loc[vids.index.repeat(FRAMES_PER_VIDEO)].reset_index()
        idx = pd.Series(range(len(out)), dtype="int64") % FRAMES_PER_VIDEO
        dur_rep = dur.reset_index(drop=True).loc[
            pd.Series(range(len(vids))).repeat(FRAMES_PER_VIDEO)
        ].reset_index(drop=True)
        yield pd.DataFrame({
            "media_id": out["media_id"],
            "frame_idx": idx.astype("int32"),
            "frame_ts_ms": (idx * dur_rep) // FRAMES_PER_VIDEO,
        })


@query(
    "media_frame_sample",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(f.range AS INTEGER) AS frame_idx,
           (f.range * (octet_length(encode(text)) * 7)) // {FRAMES_PER_VIDEO}
               AS frame_ts_ms
    FROM documents, range({FRAMES_PER_VIDEO}) f
    WHERE doc_id % 3 = 2
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load(spark, sf_dir, "documents"))
    return media.mapInPandas(
        frame_sample_batches,
        schema="media_id bigint, frame_idx int, frame_ts_ms bigint")


@query(
    "media_dedup_hash",
    oracle="""
    SELECT content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keep_media_id
    FROM (SELECT doc_id, md5(text) AS content_hash FROM documents)
    GROUP BY content_hash
    HAVING count(*) > 1
    """,
)
def media_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup: md5 over the OPAQUE payload bytes (no
    decode needed — re-encoded/resized variants are the LSH family's job,
    this catches the exact-copy tier that dominates crawled media). One
    hash aggregate keyed on the 16-byte digest, min(id) as the canonical
    keeper — the binary-column twin of ``dedup_exact``. At 100 TB the
    hash computes in the scan projection and the aggregate shuffles
    digests + counts only, never payload bytes (Catalyst prunes the
    binary column after the md5)."""
    media = media_from_documents(load(spark, sf_dir, "documents"))
    return (media
            .select(F.col("media_id"), F.md5("payload").alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_copies"),
                 F.min("media_id").alias("keep_media_id"))
            .filter(F.col("n_copies") > 1))


def fake_decode_arrow(batches):
    """mapInArrow twin of fake_decode_batches: identical feature math on
    raw pyarrow RecordBatches — no Arrow→pandas→Arrow conversion, no
    per-batch pandas allocation. For binary-payload pipelines this is
    the cheaper UDF transport: payload bytes stay in Arrow buffers end
    to end (pandas would copy every payload into Python bytes objects)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import numpy as np

    for batch in batches:
        n = pc.cast(pc.binary_length(batch.column("payload")), pa.int64())
        # pyarrow.compute has no modulo kernel; the int64 length column
        # round-trips through numpy zero-copy — the PAYLOAD bytes never
        # leave Arrow buffers, which is the point of this transport.
        # NULL payloads surface as NaN in the numpy view; compute on a
        # zero-filled copy and re-apply the null mask so NULL media
        # yields NULL features (matching the pandas twin and the
        # oracle's octet_length(NULL)) instead of garbage int casts.
        nv = n.to_numpy(zero_copy_only=False)
        mask = np.isnan(nv) if nv.dtype.kind == "f" else None
        filled = (np.nan_to_num(nv) if mask is not None else nv) \
            .astype("int64")
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("media_id"),
                batch.column("kind"),
                n,
                pa.array((filled % 640 + 16).astype("int32"), mask=mask),
                pa.array((filled % 480 + 16).astype("int32"), mask=mask),
                pc.multiply(n, 7),
            ],
            names=["media_id", "kind", "payload_bytes", "fake_width",
                   "fake_height", "fake_duration_ms"])


@query(
    "media_feature_extract_arrow",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS fake_width,
           CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS fake_height,
           CAST(octet_length(encode(text)) * 7 AS BIGINT) AS fake_duration_ms
    FROM documents
    """,
)
def media_feature_extract_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow variant of media_feature_extract — SAME oracle, so the
    two UDF transports are provably equivalent; the bench extra set
    carries both to keep the pandas-vs-arrow overhead a measured number
    (like the cogroup/native twin pair)."""
    media = media_from_documents(load(spark, sf_dir, "documents"))
    return media.mapInArrow(fake_decode_arrow, schema=FEATURE_SCHEMA)
