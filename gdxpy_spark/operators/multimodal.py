"""Multimodal columns (north star): image/audio/video as opaque BINARY
columns with typed metadata, processed by Arrow-batched Pandas UDFs over
mapInPandas.

The container ships no image/audio codecs (PIL/av absent), so the *byte
decode* is a deterministic fake — a 16-byte header (magic, format, width,
height, fps) followed by payload — while everything Spark-cares-about is
real and tested: the binary column schema, the mapInPandas batch
iteration (pandas bytes in, DataFrame out), output schemas, partition
behavior, and the per-frame fan-out. `decode_real` marks exactly where a
production deployment swaps in PIL/libav (NotImplementedError behind an
import-try).

The fake "media" bytes are synthesized from `documents` (header fields
derived from doc_id/n_chars), which makes mm_image_meta and
mm_frame_sample *oracle-checkable*: DuckDB recomputes the expected
metadata from the same columns without touching bytes — so the test
proves the bytes really were written, shipped through Arrow, and parsed
back per batch.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gdxpy_spark.operators._util import fan_out as _fan_out, managed_cache
from gdxpy_spark.registry import register
from gdxpy_spark.tables import table

log = logging.getLogger(__name__)

_MAGIC = b"GXMM"
_FORMATS = ("png", "jpeg", "webp")


def _read_hdr_t():
    """The 14-byte read-side header view (magic | fmt u8 | w u32 | h u32
    | fps u8; the 2 pad bytes before the payload are not parsed). ONE
    definition shared by every header-parsing operator — the write-side
    16-byte layout lives in media_table; changing either means changing
    both, and the magic assert catches a drifted reader immediately."""
    import numpy as np

    hdr_t = np.dtype(
        [("magic", "S4"), ("fmt", "u1"), ("w", "<u4"), ("h", "<u4"), ("fps", "u1")]
    )
    assert hdr_t.itemsize == 14
    return hdr_t


def parse_headers(blobs):
    """Vectorized header parse for a batch of media blobs: one
    frombuffer over the concatenated fixed-width headers — payloads are
    never copied. Returns the structured array; raises on bad magic."""
    import numpy as np

    hdr = np.frombuffer(b"".join(b[:14] for b in blobs), dtype=_read_hdr_t())
    assert (hdr["magic"] == _MAGIC).all(), "bad media header"
    return hdr


def decode_real(payload: bytes, fmt: str):
    """Production decode hook — requires PIL/libav, absent here (STUB)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env has no PIL
        raise NotImplementedError(
            "real image/video decode needs PIL/libav, not in this container;"
            " the deterministic header decode below exercises the Spark"
            " plumbing instead"
        ) from exc


def media_table(
    spark: SparkSession, sf_dir: str, fan_out: bool = False
) -> DataFrame:
    """documents → (doc_id, media BINARY, media_type STRING): a 16-byte
    header (magic | fmt u8 | width u32 | height u32 | fps u8 | pad) +
    the utf-8 text as payload. Header fields are pure functions of
    doc_id/n_chars so oracles can recompute them.

    fan_out=True repairs scan parallelism BEFORE synthesis (r14,
    _util.fan_out): the repartition moves narrow (doc_id, text) rows,
    so the binary column is created already-distributed and still
    never crosses an Exchange (the plan-pinned contract). Callers with
    payload-heavy downstream work (phash shingling, CDC chunking) opt
    in; header-only consumers measured a net LOSS from the extra
    exchange + 32-way Arrow task wave and stay on the single-split
    scan (A/B table, OPTIMIZATION_r14.md)."""
    docs = table(spark, sf_dir, "documents")
    if fan_out:
        docs = _fan_out(docs, spark)
    fmt_idx = (F.col("doc_id") % 3).cast("int")
    width = (F.col("n_chars") % 640 + 64).cast("int")
    height = (F.col("doc_id") % 480 + 48).cast("int")
    fps = (F.col("doc_id") % 30 + 1).cast("int")

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # vectorized header pack: one structured-array fill per batch
        # (packed little-endian dtype == the struct.pack layout), then a
        # single .tobytes() sliced per row — no pandas iterrows
        hdr_t = np.dtype(
            [("magic", "S4"), ("fmt", "u1"), ("w", "<u4"), ("h", "<u4"),
             ("fps", "u1"), ("pad", "S2")]
        )
        assert hdr_t.itemsize == 16
        fmts = np.array(_FORMATS)
        for pdf in it:
            n = len(pdf)
            hdr = np.zeros(n, dtype=hdr_t)
            hdr["magic"] = _MAGIC
            hdr["fmt"] = pdf["fmt_idx"].to_numpy(dtype="uint8")
            hdr["w"] = pdf["width"].to_numpy(dtype="uint32")
            hdr["h"] = pdf["height"].to_numpy(dtype="uint32")
            hdr["fps"] = pdf["fps"].to_numpy(dtype="uint8")
            raw = hdr.tobytes()
            blobs = [
                raw[i * 16 : (i + 1) * 16] + t.encode("utf-8")
                for i, t in enumerate(pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": blobs,
                    "media_type": fmts[hdr["fmt"]],
                }
            )

    src = docs.select(
        "doc_id", "text",
        fmt_idx.alias("fmt_idx"), width.alias("width"),
        height.alias("height"), fps.alias("fps"),
    )
    return src.mapInPandas(
        build, schema="doc_id BIGINT, media BINARY, media_type STRING"
    )


@register(
    "mm_image_meta",
    oracle="""
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            ELSE 'webp' END AS media_type,
       CAST(n_chars % 640 + 64 AS INT) AS width,
       CAST(doc_id % 480 + 48 AS INT) AS height,
       CAST(n_chars AS BIGINT) AS payload_bytes
FROM documents
""",
    category="MM",
)
def mm_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode typed metadata out of a binary media column with an
    Arrow-batched mapInPandas header parse. The oracle recomputes the
    expected fields from the source columns — proving the bytes
    round-tripped through the binary column and the Python worker. At
    100 TB this stage is a map-only pass; binary payloads never shuffle."""
    media = media_table(spark, sf_dir)

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        fmts = np.array(_FORMATS)
        for pdf in it:
            blobs = [bytes(b) for b in pdf["media"]]
            hdr = parse_headers(blobs)
            lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
                    "media_type": fmts[hdr["fmt"]],
                    "width": hdr["w"].astype("int32"),
                    "height": hdr["h"].astype("int32"),
                    "payload_bytes": lens - 16,
                }
            )

    return media.mapInPandas(
        parse,
        schema="doc_id BIGINT, media_type STRING, width INT, height INT,"
        " payload_bytes BIGINT",
    )


@register(
    "mm_frame_sample",
    oracle="""
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST((i - 1) * (doc_id % 30 + 1) AS BIGINT) AS frame_offset
FROM documents
CROSS JOIN generate_series(1, 3) AS t(i)
WHERE doc_id % 30 + 1 >= 3
""",
    category="MM",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as a per-row fan-out: treat the media column as a
    'video' whose fps comes from the header; emit the first 3 frame
    offsets (frame k starts at k·fps in this fake container). The
    mapInPandas batch emits a variable number of output rows per input
    row — the exact shape of a real ffmpeg frame sampler, minus the
    codec. Videos shorter than 3 'frames' are skipped."""
    media = media_table(spark, sf_dir)

    def sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            # fps is header byte 13; gather it per row, then the 3-frame
            # fan-out is one repeat/tile/outer-product — no row loop
            fps = np.fromiter(
                (b[13] for b in pdf["media"]), dtype=np.int64, count=len(pdf)
            )
            keep = fps >= 3
            ids = pdf["doc_id"].to_numpy(dtype="int64")[keep]
            kept_fps = fps[keep]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, 3),
                    "frame_idx": np.tile(np.arange(1, 4, dtype="int32"), len(ids)),
                    "frame_offset": (
                        kept_fps[:, None] * np.arange(3, dtype=np.int64)[None, :]
                    ).ravel(),
                }
            )

    return media.mapInPandas(
        sample, schema="doc_id BIGINT, frame_idx INT, frame_offset BIGINT"
    )


_RESIZE_W = _RESIZE_H = 64  # fixed target "resolution"
_RESIZE_N = _RESIZE_W * _RESIZE_H

_RESIZE_ORACLE = f"""
SELECT doc_id,
       CAST({_RESIZE_W} AS INT) AS out_w,
       CAST({_RESIZE_H} AS INT) AS out_h,
       CAST({_RESIZE_N} AS BIGINT) AS out_bytes,
       CAST(SUM(ascii(substr(text,
            CAST(FLOOR(CAST(k AS DOUBLE) * n_chars / {_RESIZE_N}) AS INT) + 1,
            1))) AS BIGINT) AS checksum
FROM documents
CROSS JOIN generate_series(0, {_RESIZE_N - 1}) AS t(k)
WHERE n_chars > 0
GROUP BY doc_id
"""


@register("mm_resize", oracle=_RESIZE_ORACLE, category="MM")
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage: every media payload is nearest-neighbor resampled
    to a fixed 64×64 'resolution' (4096 bytes — source byte k·n/4096
    for each target position k, the exact index arithmetic of a
    nearest-neighbor image resize, applied to the fake payload since
    the container has no codecs; decode_real marks the production
    hook). Fully vectorized per Arrow batch: one concatenated uint8
    array + a single fancy-index gather per batch, no per-row Python.
    The oracle recomputes the resampled-byte checksum from the source
    text, proving the byte gather really happened on the worker. At
    100 TB a map-only stage; resized payloads are fixed-size, which is
    what makes the downstream training batch layout packable.

    r6 OPERATOR FUSION: the r1-r5 plan chained media_table's header-pack
    mapInPandas into a second resize mapInPandas — two Arrow round-trips
    of the full payload through two Python runners, and the resize's
    first act was slicing the 16-byte header straight back off. The
    driver bench showed 1.9 s, noisy 0.8-2.2 s warm (two python-runner
    stages double the worker-scheduling variance). Fused here into ONE
    mapInPandas over (doc_id, text): header bytes never influence the
    output (the gather indexes payload only), so build+strip cancels and
    the single pass does the identical byte gather over the identical
    payload bytes. media_table stays the real input everywhere the
    OUTPUT depends on the header (mm_image_meta, mm_frame_sample,
    mm_feature_extract)."""
    import numpy as np

    media = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Python-stage parallelism floor: the sf0.1 table is ONE parquet file
    # → one input split → the whole Arrow/python stage serialized onto a
    # single task (and a single worker's hiccup = the whole query; the
    # 2-4 s spikes in r5's bench were exactly this). Repartition ONLY
    # when splits < cores — the shuffle is one pass over a table that by
    # definition fits in one split; at real scale the scan already has
    # ≥ cores splits and this branch never fires.
    cores = spark.sparkContext.defaultParallelism
    if media.rdd.getNumPartitions() < cores:
        media = media.repartition(cores)

    def resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tgt = np.arange(_RESIZE_N, dtype=np.int64)
        for pdf in it:
            blobs = [t.encode("utf-8") for t in pdf["text"]]  # == payload sans header
            lens = np.fromiter((len(b) for b in blobs), dtype=np.int64,
                               count=len(blobs))
            keep = lens > 0
            cat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            starts = np.cumsum(lens) - lens
            # per-doc gather indices: start_d + floor(k*len_d/4096)
            rows = np.flatnonzero(keep)
            idx = (
                starts[rows, None] + (tgt[None, :] * lens[rows, None]) // _RESIZE_N
            )
            sampled = cat[idx]  # (n_docs, 4096) resized payloads
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype="int64")[rows],
                    "out_w": np.full(len(rows), _RESIZE_W, dtype="int32"),
                    "out_h": np.full(len(rows), _RESIZE_H, dtype="int32"),
                    "out_bytes": np.full(len(rows), _RESIZE_N, dtype="int64"),
                    "checksum": sampled.sum(axis=1, dtype=np.int64),
                }
            )

    return media.mapInPandas(
        resize,
        schema="doc_id BIGINT, out_w INT, out_h INT, out_bytes BIGINT,"
        " checksum BIGINT",
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → 8-dim float vector (byte-histogram over 8
    equal-width bins). This is the array-typed DataFrame downstream
    consumers want — same array<float> shape as the embeddings table,
    ready for llm_knn_topk / llm_cosine_pairs. The *registered* query
    (mm_feature_extract) projects a stringified view because the
    driver's rows-only checker hashes values and dies on list cells."""
    import numpy as np

    media = media_table(spark, sf_dir)

    def features(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [bytes(b)[16:] for b in pdf["media"]]
            lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
            # all payloads → one uint8 array; 8 equal-width bins == byte>>5;
            # per-row histograms via a single offset bincount (row*8 + bin)
            cat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            row_of = np.repeat(np.arange(len(blobs), dtype=np.int64), lens)
            counts = np.bincount(
                row_of * 8 + (cat >> 5), minlength=len(blobs) * 8
            ).reshape(len(blobs), 8)
            totals = np.maximum(1, lens)[:, None]
            vecs = (counts / totals).astype("float32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
                    "feature": list(map(list, vecs)),
                }
            )

    return media.mapInPandas(features, schema="doc_id BIGINT, feature ARRAY<FLOAT>")


def _mm_feature_oracle() -> str:
    """DuckDB twin of mm_feature_extract. The blob payload after the
    16-byte header is the document's utf-8 text (ASCII on this corpus —
    the same byte⇔ascii(substr) identity _AUDIO_ORACLE already relies
    on), so the 8-bin byte histogram is computable from `text` alone:
    bin = byte >> 5, count/len widened through REAL exactly like
    numpy's float32 vectors, then the established ROUND(x,4)+0.0
    cross-engine pattern per feature column."""
    rf = "\n".join(
        f"         COALESCE(MAX(CASE WHEN b = {k} THEN CAST(CAST(c AS DOUBLE)"
        f" / GREATEST(1, d.n_chars) AS REAL) END), CAST(0.0 AS REAL)) AS rf{k},"
        for k in range(8)
    ).rstrip(",")
    fcols = ",\n".join(
        f"       ROUND(CAST(rf{k} AS DOUBLE), 4) + 0.0 AS f{k}" for k in range(8)
    )
    l1 = " + ".join(f"(ROUND(CAST(rf{k} AS DOUBLE), 4))" for k in range(8))
    return f"""
WITH counts AS MATERIALIZED (
  SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) // 32 AS b,
         COUNT(*) AS c
  FROM (SELECT doc_id, text, unnest(generate_series(1, n_chars)) AS i
        FROM documents WHERE n_chars > 0)
  GROUP BY doc_id, b
),
f AS MATERIALIZED (
  SELECT d.doc_id,
{rf}
  FROM documents d LEFT JOIN counts USING (doc_id)
  GROUP BY d.doc_id, d.n_chars
)
SELECT doc_id, 8 AS dim,
{fcols},
       ROUND({l1}, 4) + 0.0 AS l1_checksum
FROM f
"""


@register("mm_feature_extract", oracle=_mm_feature_oracle(), category="MM")
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction: binary payload → 8-dim float vector (byte-
    histogram moments over 8 equal-width bins — deterministic; a real
    deployment swaps the inner loop for a vision encoder via
    decode_real). The array DataFrame lives in media_features(); this
    registered view flattens the vector to 8 rounded DOUBLE columns
    plus an L1-scaled checksum, all JVM-side, so every output cell is a
    hashable scalar. Full value-hash oracle since r11 (was weak): the
    payload is byte-reconstructible from `text`, so DuckDB recomputes
    the histogram exactly (see _mm_feature_oracle; the r1–r10
    format_number CSV string was the only non-portable part and is
    replaced by per-column ROUND — strictly more checkable)."""
    feats = media_features(spark, sf_dir)
    return feats.select(
        "doc_id",
        F.size("feature").alias("dim"),
        *[
            (
                F.round(F.element_at("feature", i + 1).cast("double"), 4)
                + F.lit(0.0)
            ).alias(f"f{i}")
            for i in range(8)
        ],
        F.round(
            F.aggregate(
                F.col("feature"),
                F.lit(0.0),
                lambda acc, x: acc + F.round(x.cast("double"), 4),
            ),
            4,
        ).alias("l1_checksum"),
    )


_AUDIO_ORACLE = """
WITH a AS (
  SELECT doc_id, n_chars,
         (CAST(doc_id % 30 + 1 AS INT) * 16 + 64) AS rate,
         (CAST(doc_id % 30 + 1 AS INT) * 16 + 64) // 2 AS win
  FROM documents WHERE n_chars > 0),
w AS (
  SELECT doc_id, n_chars, rate, win,
         unnest(range(0, (n_chars + win - 1) // win)) AS wi
  FROM a)
SELECT w.doc_id,
       CAST(wi AS INT) AS win_idx,
       CAST(rate AS INT) AS sample_rate,
       CAST(wi * win AS INT) AS start_sample,
       CAST(LEAST(win, w.n_chars - wi * win) AS INT) AS n_samps,
       CAST(list_aggregate(
         list_transform(
           generate_series(1, CAST(LEAST(8, w.n_chars - wi * win) AS INT)),
           i -> ascii(substr(d.text, CAST(wi * win + i AS INT), 1))),
         'sum') AS BIGINT) AS head_checksum
FROM w JOIN documents d USING (doc_id)
"""


@register("mm_audio_window", oracle=_AUDIO_ORACLE, category="MM")
def mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO FRAMING: an opaque 8-bit-PCM payload is cut into
    half-second analysis windows from its header's sample rate — the
    shape of every audio featurizer front-end (VAD, fbank, whisper-
    style chunking): per window, its index, start offset, true sample
    count (the tail window runs short), and a checksum over the first
    8 samples PROVING the window's bytes were actually decoded from
    the shipped binary, not just arithmetic on metadata (the checksum
    is the audio sibling of mm_resize's resampled-byte checksum).
    decode_real (multimodal.py:36) remains the swap-in point for a
    real codec; the fixture's sample rate derives from the header fps
    field (rate = fps·16 + 64) so the oracle can recompute the framing
    from source columns.

    Scale: one Arrow pass over the binary column; per-row fan-out is
    n_samples/window — bounded by payload size, embarrassingly
    parallel, binary never shuffled (only the small typed window rows
    leave the stage). Same mapInPandas contract as the image/video
    ops: pandas bytes in, typed DataFrame out."""
    import numpy as np

    media = media_table(spark, sf_dir)

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("doc_id", "win_idx", "sample_rate", "start_sample",
                    "n_samps", "head_checksum")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                fps = blob[13]  # header: magic4 | fmt1 | w4 | h4 | fps1
                payload = np.frombuffer(blob, dtype=np.uint8, offset=16)
                n = len(payload)
                if n == 0:
                    continue
                rate = fps * 16 + 64
                win = rate // 2
                n_win = (n + win - 1) // win
                for wi in range(n_win):
                    s = wi * win
                    head = payload[s : s + min(8, n - s)]
                    out["doc_id"].append(int(doc_id))
                    out["win_idx"].append(wi)
                    out["sample_rate"].append(rate)
                    out["start_sample"].append(s)
                    out["n_samps"].append(min(win, n - s))
                    out["head_checksum"].append(int(head.sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        frames,
        schema="doc_id BIGINT, win_idx INT, sample_rate INT,"
        " start_sample INT, n_samps INT, head_checksum BIGINT",
    )


_SHARD_ORACLE = """
WITH s AS (
  SELECT doc_id, n_chars + 16 AS n_bytes,
         CAST(SUM(n_chars + 16) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents)
SELECT doc_id, n_bytes,
       (cum - n_bytes) // 65536 AS shard_id,
       cum - n_bytes - ((cum - n_bytes) // 65536) * 65536
         AS offset_in_shard
FROM s
"""


@register("mm_shard_pack", oracle=_SHARD_ORACLE, category="MM")
def mm_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD MANIFEST — assign every media blob to a ~64 KiB shard by
    byte budget (the webdataset/tar-shard layout step every multimodal
    training pipeline runs before upload): shard_id = exclusive byte
    prefix-sum div budget, offset = position within the shard. The
    contract is the standard approximate-shard-size one — a blob
    straddling the boundary stays in the shard its START falls in, so
    shards overflow by at most one blob and NO blob is ever split.

    The sizes are measured on the REAL media column (octet_length
    through the mapInPandas builder — proving the bytes exist), but the
    manifest math runs on (doc_id, n_bytes) pairs ONLY: the projection
    drops the binary BEFORE the prefix-sum's range shuffle, so blobs
    never cross the wire — the family invariant. The prefix sum is the
    distributed two-pass global_running_sum (no single-partition
    window); all arithmetic is integer-exact, so shard boundaries are
    bit-identical on both engines. The oracle recomputes sizes from
    n_chars (header = 16 bytes, ASCII payload = n_chars bytes) —
    hash equality proves the built bytes match the declared layout.

    Scale: at 100 TB this manifest is the only full-corpus pass the
    sharding step needs; the physical tar writes then stream per-shard
    with zero coordination, reading each blob exactly once."""
    from gdxpy_spark.operators._util import global_running_sum

    media = media_table(spark, sf_dir).select(
        "doc_id", F.octet_length("media").cast("bigint").alias("n_bytes")
    )
    cum = global_running_sum(
        media, ["doc_id"], "n_bytes", out_col="cum"
    )
    budget = 65536
    start = F.col("cum") - F.col("n_bytes")
    return cum.select(
        "doc_id",
        "n_bytes",
        F.expr(f"(cum - n_bytes) div {budget}").alias("shard_id"),
        (
            start
            - F.expr(f"(cum - n_bytes) div {budget}") * F.lit(budget)
        ).alias("offset_in_shard"),
    )


_PATCH_ORACLE = """
WITH m AS (
  SELECT doc_id,
         n_chars % 640 + 64 AS w,
         doc_id % 480 + 48 AS h
  FROM documents)
SELECT doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CEIL(CAST(w AS DOUBLE) / 16) AS INT) AS nx,
       CAST(CEIL(CAST(h AS DOUBLE) / 16) AS INT) AS ny,
       CAST(CEIL(CAST(w AS DOUBLE) / 16) * CEIL(CAST(h AS DOUBLE) / 16)
            AS BIGINT) AS n_patches,
       CAST(CEIL(CAST(w AS DOUBLE) / 16) * CEIL(CAST(h AS DOUBLE) / 16)
            AS BIGINT) + 1 AS n_tokens
FROM m
"""


@register("mm_patch_grid", oracle=_PATCH_ORACLE, category="MM")
def mm_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-transformer PATCH GRID accounting — for every image, the
    16×16 patch tiling (⌈w/16⌉ × ⌈h/16⌉) and the resulting sequence
    length (+1 CLS token): the numbers a multimodal training pipeline
    needs BEFORE any pixel is decoded, to budget tokens, pack batches
    (mm_shard_pack's byte budget has a token-budget twin here) and
    reject images whose sequence would overflow the context. Dimensions
    come from the real binary header via the same vectorized
    mapInPandas parse as mm_image_meta — proving the bytes — and the
    oracle recomputes the grid from the header-generating functions.

    Scale: map-only; the binary is length-checked and header-sliced,
    never shuffled or decoded."""
    media = media_table(spark, sf_dir)

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [bytes(b) for b in pdf["media"]]
            hdr = parse_headers(blobs)
            w = hdr["w"].astype("int64")
            h = hdr["h"].astype("int64")
            nx = -(-w // 16)
            ny = -(-h // 16)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype="int64"),
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "nx": nx.astype("int32"),
                    "ny": ny.astype("int32"),
                    "n_patches": nx * ny,
                    "n_tokens": nx * ny + 1,
                }
            )

    return media.mapInPandas(
        parse,
        schema="doc_id BIGINT, width INT, height INT, nx INT, ny INT,"
        " n_patches BIGINT, n_tokens BIGINT",
    )


_MMDEDUP_ORACLE = """
WITH h AS (
  SELECT doc_id, sha256(substr(text, 1, 128)) AS head_sha,
         octet_length(encode(text)) AS n_bytes
  FROM documents)
SELECT head_sha,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS canonical_doc,
       CAST(SUM(CAST(n_bytes AS BIGINT)) AS BIGINT) AS dup_payload_bytes
FROM h
GROUP BY head_sha
HAVING COUNT(*) > 1
"""


@register("mm_exact_dedup", oracle=_MMDEDUP_ORACLE, category="MM")
def mm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIA DEDUP BY CONTENT-HEAD DIGEST — hash the first 128 PAYLOAD
    bytes (past the 16-byte container header), so the same content
    re-wrapped with different container metadata still collapses: the
    cheap first pass a LAION-style media pipeline runs before full-
    stream hashing (a head digest reads one block per object instead
    of streaming terabytes, and false head-collisions are resolved by
    a full hash over only the surviving groups — at this corpus'
    construction, head-identical implies template-identical). Emits
    one row per duplicated head: copies, canonical keeper (min
    doc_id), and the byte volume the group holds — the storage-savings
    report of a dedup dry-run.

    The binary column never survives the map stage: sha2 runs scan-
    side and only the 64-hex digest + byte count shuffle (the
    llm_exact_dedup discipline, on binary). The oracle recomputes the
    digests from the source text — valid because payload bytes ARE the
    utf-8 text by the media_table construction AND the corpus is pure
    ASCII (byte slicing == char slicing; asserted in tests), and
    DuckDB 1.0 has no sha256(BLOB) — hashing the text proves the
    payload round-tripped through the container exactly."""
    media = media_table(spark, sf_dir)
    h = media.select(
        "doc_id",
        F.sha2(F.expr("substring(media, 17, 128)"), 256).alias("head_sha"),
        (F.length("media") - 16).cast("bigint").alias("n_bytes"),
    )
    return (
        h.groupBy("head_sha")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc"),
            F.sum("n_bytes").cast("bigint").alias("dup_payload_bytes"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# r13 (r12 verdict #6): perceptual near-dup for the media column —
# the LAION-style stage between the exact head digest (mm_exact_dedup,
# which any single changed byte defeats) and semantic embedding dedup.
# ---------------------------------------------------------------------------

_PHASH_SHINGLE = 4    # byte 4-grams: the content-defined unit
_PHASH_BANDS = 4      # 4 x 16-bit Hamming-LSH bands
_PHASH_HAM_T = 3      # near-dup threshold; t < bands => pigeonhole-exact


def _phash_sig_cte() -> str:
    """Shared WITH-body: each blob's 64-bit content hash recomputed
    from `text` (payload bytes ARE the utf-8 text by the media_table
    construction and the corpus is pure ASCII — the mm_exact_dedup
    argument), ending at CTE sig(doc_id, ph). Hash recipe shared with
    _simhash_oracle (md5 hi·2³²+lo in UBIGINT, literal power-of-two
    bit packing — DuckDB's << overflows checked at bit 63); the vote
    unit is the DISTINCT payload byte 4-gram instead of the
    whitespace token."""
    K = _PHASH_SHINGLE
    votes = ",\n".join(
        f"  SUM(CASE WHEN ((hu >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    return f"""p AS MATERIALIZED (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n, text
  FROM documents WHERE n_chars >= {K}),
pos AS MATERIALIZED (
  SELECT doc_id, text, unnest(range(1, n - {K - 2})) AS i FROM p),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {K}) AS g
  FROM pos),
h AS MATERIALIZED (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) * 4294967296
         + CAST(('0x' || substr(md5(g), 9, 8)) AS UBIGINT) AS hu
  FROM sh),
votes AS MATERIALIZED (
  SELECT doc_id,
{votes}
  FROM h GROUP BY doc_id),
sig AS MATERIALIZED (SELECT doc_id, {sig} AS ph FROM votes)"""


def _phash_oracle() -> str:
    """DuckDB twin of mm_phash_neardup — the ALL-PAIRS semantic
    definition: every pair with bit_count(xor) <= t over the
    _phash_sig_cte signatures. Because the engine's banded join is
    pigeonhole-EXACT for t < bands, hash-matching this all-pairs twin
    proves the banding loses nothing, every round."""
    return f"""
WITH {_phash_sig_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= {_PHASH_HAM_T}
"""


def _phash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash): the 64-bit content-defined fuzzy hash per blob,
    managed_cache'd (r14, per the r13 verdict: the banded self-join
    reads this frame on BOTH sides, and mm_phash_clusters rides the
    same pairs — without the cache the scan→shingle→64-vote pipeline
    materialized up to 4× per query; PLANS.md r13 showed the twin
    subtrees). The cached frame is two columns — bytes per doc, not
    corpus-sized — the llm.py minhash-signature discipline. fan_out
    (r14): the shingle explode + per-gram md5 is ~300 expression
    evaluations per payload byte; on the single-split toy scan that
    pipeline ran on ONE core and was most of the query's wall (A/B
    0.33x with the fan-out, OPTIMIZATION_r14.md)."""
    K = _PHASH_SHINGLE
    media = media_table(spark, sf_dir, fan_out=True)
    payload = F.expr("CAST(substring(media, 17, length(media) - 16) AS STRING)")
    sh = (
        media.select("doc_id", payload.alias("body"))
        .filter(F.length("body") >= K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(body) - {K - 1}),"
                        f" i -> substring(body, i, {K}))"
                    )
                )
            ).alias("g"),
        )
    )
    md5c = F.md5("g")
    hi = F.conv(F.substring(md5c, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(md5c, 9, 8), 16, 10).cast("bigint")
    tok = sh.withColumn("h", F.shiftleft(hi, 32).bitwiseOR(lo))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    sig = None
    for j in range(64):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return managed_cache(votes.select("doc_id", sig.alias("phash")))


def _phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming): all pairs at hamming ≤ t, via the
    4-band 16-bit Hamming-LSH self-join over the CACHED signature
    frame (both join sides read one InMemoryRelation — the second
    side is a reuse, not a rebuild)."""
    sigs = _phash_sigs(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftrightunsigned("phash", 16 * k)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for k in range(_PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", "bb.band_id", "bb.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _PHASH_HAM_T)
        .distinct()
    )


@register("mm_phash_neardup", oracle=_phash_oracle(), category="MM")
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL near-dup over the binary media column — a 64-bit
    CONTENT-DEFINED fuzzy hash per blob (the ssdeep/TLSH family): a
    SimHash where every distinct payload byte 4-gram votes ±1 on each
    bit. Being shingle-set based, the signature is ALIGNMENT- and
    LENGTH-invariant: a re-encoded copy whose payload gained a short
    trailer (the corpus plants exactly these — same content ±4 trailing
    bytes) moves only the few votes its new shingles cast, so the pair
    lands at hamming ≤3 while mm_exact_dedup's head digest already
    fails on any changed head byte. A position-binned 8×8 dHash was
    measured and REJECTED for this payload regime: at ~300-byte
    payloads each bin is ~5 bytes, so a 4-byte length shift replaces
    whole bins and decorrelates the hash (planted pairs landed at
    hamming ≥11; SCALE.md r13) — the fixed-grid recipe needs real
    pixel rasters (decode_real's swap-in point) to average over.

    Pairs are found by a 4-band 16-bit Hamming-LSH self-join, and
    because t=3 < 4 bands the pigeonhole principle makes the banded
    join EXACT — the all-pairs oracle hash-checks that exactness every
    round (llm_simhash's single top-16 band trades recall instead;
    this op upgrades the machinery where exactness is provable).

    Scale: shingling/hashing/votes are scan-fused JVM HOFs over the
    payload (binary never shuffles — only (doc_id, sig) leaves the
    stage); the banded join shuffles 4 narrow rows per doc with
    candidate volume Σ_bucket n_b²/2¹⁶ per band — the llm_simhash cost
    model with a 4× table fan-out. The (doc_id, phash) signature frame
    is managed_cache'd (r14): both self-join sides and the clusters op
    read ONE materialization instead of rebuilding the scan→shingle→
    64-vote pipeline per subtree."""
    return _phash_pairs(spark, sf_dir)


_PHASH_CC_ROUNDS = 5  # same margin discipline as _SEMDEDUP_CC_ROUNDS:
# phash dup graphs are tiny stars (pairs/triples), 3-4 contraction
# rounds suffice; rounds-vs-rounds+1 equality pinned in test_r13_ops.py.
# r14: trimmed 7 -> 5 (r13 verdict #8) — keeps a 1-round margin over the
# measured 3-4 while cutting two unrolled CTE rounds from every
# selfcheck/driver oracle replay.


def _phash_clusters_oracle() -> str:
    """DuckDB twin of mm_phash_clusters: the all-pairs phash pairs CTE
    normalized to oriented (big, small) edges, then
    _cc_star_rounds_sql's star contraction down to (dup_id, kept_id)
    child rows — the exact oracle shape _semdedup_oracle uses for its
    CC tail."""
    from gdxpy_spark.operators.llm import _cc_star_rounds_sql

    N = _PHASH_CC_ROUNDS
    return f"""
WITH {_phash_sig_cte()},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ph, b.ph)) <= {_PHASH_HAM_T}),
se0 AS MATERIALIZED (
  SELECT DISTINCT GREATEST(doc_a, doc_b) AS u, LEAST(doc_a, doc_b) AS v
  FROM pairs),
{_cc_star_rounds_sql(N)}
SELECT DISTINCT u AS dup_id, v AS kept_id FROM se{N}
"""


@register("mm_phash_clusters", oracle=_phash_clusters_oracle(), category="MM")
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup GROUPS — the report a media dedup dry-run
    actually acts on: mm_phash_neardup's hamming<=3 pairs closed under
    transitivity by star-contraction connected components (Kiveris
    2014 — the same CC machinery llm_semdedup and llm_minhash_dedup
    ride), each group keeping its min doc_id. Emits (dup_id,
    kept_id = group min), singletons omitted — llm_semdedup's contract
    on the media column, so a pipeline can chain exact-head dedup
    (mm_exact_dedup) -> perceptual groups (this op) -> semantic dedup
    (llm_semdedup) with one downstream shape.

    Scale: the pairs stage is mm_phash_neardup's plan (binary never
    shuffles, banded join) over the SHARED cached signature frame
    (r14: _phash_pairs, not a from-scratch rebuild of the registered
    op — the wrapper would release the managed caches mid-build); CC
    runs over the dup-graph edge set, orders of magnitude below n: the
    driver hook-and-shortcut kernel up to connected_components' edge
    cut, else 3-4 contraction rounds of two shuffles each over the
    SHRINKING pair set."""
    return _phash_dups(spark, sf_dir)


def _phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dup_id, kept_id): mm_phash_clusters' engine body, callable from
    composites (mm_e2e_dedup) without the registered wrapper's
    release_managed_caches tripping mid-build."""
    from gdxpy_spark.operators.llm import _dedup_clusters

    return _dedup_clusters(spark, _phash_pairs(spark, sf_dir).select("doc_a", "doc_b"))


def _mm_e2e_oracle() -> str:
    """DuckDB twin of mm_e2e_dedup: exact-head dedup survivors, the
    phash pairs + q-prefixed star-CC dup set (prefix keeps its CTE
    names disjoint from the semdedup chain's own CC unrolling), the
    full semdedup WITH body ending at sdedup, then the three funnel
    anti-filters and the four stage counts."""
    from gdxpy_spark.operators.llm import (
        _cc_star_rounds_sql,
        _semdedup_with_body,
    )

    N = _PHASH_CC_ROUNDS
    return f"""
WITH heads AS MATERIALIZED (
  SELECT doc_id, substr(text, 1, 128) AS head FROM documents),
s1 AS MATERIALIZED (
  SELECT MIN(doc_id) AS doc_id FROM heads GROUP BY head),
{_phash_sig_cte()},
ppairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ph, b.ph)) <= {_PHASH_HAM_T}),
qse0 AS MATERIALIZED (
  SELECT DISTINCT GREATEST(doc_a, doc_b) AS u, LEAST(doc_a, doc_b) AS v
  FROM ppairs),
{_cc_star_rounds_sql(N, first="qse0", prefix="q")},
pdup AS MATERIALIZED (SELECT DISTINCT u AS dup_id FROM qse{N}),
s2 AS MATERIALIZED (
  SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT dup_id FROM pdup)),
{_semdedup_with_body("sdedup")},
s3 AS MATERIALIZED (
  SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT dup_id FROM sdedup))
SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 'exact', CAST(COUNT(*) AS BIGINT) FROM s1
UNION ALL SELECT 'perceptual', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL SELECT 'semantic', CAST(COUNT(*) AS BIGINT) FROM s3
"""


# mm_e2e_dedup overlaps its three tiers only at >= ~2 task slots per tier
_E2E_OVERLAP_MIN_SLOTS = 6


@register("mm_e2e_dedup", oracle=_mm_e2e_oracle(), category="MM")
def mm_e2e_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIA DEDUP FUNNEL — the three-tier chain the mm_* dedup ops
    were built to form, on one corpus with one downstream shape
    (llm_e2e_pipeline's data-accounting contract, llm.py): exact
    head-digest dedup (mm_exact_dedup's rule: keep min doc_id per
    content-head sha) → perceptual near-dup groups (mm_phash_clusters'
    hamming≤3 star-CC over the 64-bit content SimHash) → semantic
    dedup (llm_semdedup's τ=0.4 cluster-scoped groups over the
    document's embedding; embeddings.vec_id IS the doc key by the
    corpus construction — one embedding per document, same id range).
    Emits the per-stage survivor funnel (stage, n_docs), the record a
    media pipeline logs for a dedup dry-run.

    Dry-run semantics, stated: each tier's dup set is computed on the
    FULL corpus (exactly the registered single-tier ops), and a stage
    removes its dup_ids from the CURRENT survivor set — a dup whose
    group keeper was itself removed by an earlier tier still leaves,
    because its content survives through the keeper's own dedup chain
    (the canonical-chain argument every multi-tier dedup makes).
    Funnel monotonicity (raw ≥ exact ≥ perceptual ≥ semantic) is
    pinned in pytest.

    Scale: tier 1 shuffles 32-byte digests; tier 2 rides the CACHED
    phash signature frame (binary never shuffles — mm_phash_neardup's
    plan-asserted contract); tier 3 reuses the persisted IVF index the
    serving path builds once. The survivor sets that chain the tiers
    are id-only frames, managed_cache'd; at 100 TB each tier boundary
    is a checkpointed id list, the same DAG with durability.

    r14 optimization: the three dup sets are INDEPENDENT by the stated
    dry-run semantics (each tier scopes the FULL corpus, not the
    previous tier's survivors), so the dry-run's only sequencing is
    the funnel anti-joins over metadata-sized id lists at the very
    end. The perceptual and semantic tiers — each a multi-job driver
    sequence (banded join + star-CC rounds, IVF probe + τ-verify +
    star-CC) whose per-job tails leave most cores idle — therefore
    run on concurrent driver threads and the exact tier's cache fill
    overlaps them (optimization guide §2.6 'overlap independent
    jobs': actions are only sequential because driver code calls
    them sequentially). Results are bit-identical — the tier outputs
    never depended on schedule — and the wall drops from the SUM of
    the tier walls to ~their MAX (measured before/after in
    OPTIMIZATION_r14.md).

    r15 (VERDICT #3, bounded downside): the overlap is ADAPTIVE — the
    three tiers run concurrently only when the session offers at least
    ~2 task slots per tier (defaultParallelism >= 6); below that the
    same submissions execute sequentially on one worker thread (same
    code path, identical results), because three concurrent multi-job
    DAGs on a slot-starved scheduler queue each other's driver-paced
    actions instead of back-filling idle cores. Measured (r15 probes,
    plans/r15/probes/ab_mm_e2e_*.json): overlap retained at 32 cores
    quiet (0.52x vs sequential) and at 8 cores (0.61x); under a
    24-of-32-core induced load the threaded wall stays within 2x of
    sequential (1.57x) — the r14 degraded-window 12.6x blowup was vs
    the CLEAN wall, and the same window inflated sequential heavies
    3-5x too. The threshold is _E2E_OVERLAP_MIN_SLOTS; tests patch it
    to force either schedule whatever the session's width."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    slots = spark.sparkContext.defaultParallelism
    n_workers = 3 if slots >= _E2E_OVERLAP_MIN_SLOTS else 1
    log.debug("mm_e2e_dedup: %d slots, %d workers", slots, n_workers)

    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = media_table(spark, sf_dir)
    s1 = managed_cache(
        media.select(
            "doc_id",
            F.sha2(F.expr("substring(media, 17, 128)"), 256).alias("head_sha"),
        )
        .groupBy("head_sha")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    def _tier_exact():
        # materialize the cached exact-survivor set so the funnel job
        # at the end reads the InMemoryRelation instead of paying the
        # media scan serially after the threads join
        s1.count()
        return s1

    def _tier_phash():
        return _phash_dups(spark, sf_dir).select(
            F.col("dup_id").alias("doc_id")
        )

    def _tier_sem():
        from gdxpy_spark.operators.llm import _semdedup_pairs

        return _semdedup_pairs(spark, sf_dir).select(
            F.col("dup_id").alias("doc_id")
        )

    # given the session, tier threads also inherit the caller's job tags
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        f_exact = pool.submit(inherit(_tier_exact))
        f_phash = pool.submit(inherit(_tier_phash))
        f_sem = pool.submit(inherit(_tier_sem))
        f_exact.result()
        pdup = f_phash.result()
        sdup = f_sem.result()
    s2 = managed_cache(s1.join(pdup, "doc_id", "left_anti"))
    s3 = s2.join(sdup, "doc_id", "left_anti")

    def cnt(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    return (
        cnt(docs, "raw")
        .unionByName(cnt(s1, "exact"))
        .unionByName(cnt(s2, "perceptual"))
        .unionByName(cnt(s3, "semantic"))
    )


# ---------------------------------------------------------------------------
# r14: content-defined chunking (CDC) dedup — the STORAGE tier of the
# media dedup stack, below exact whole-blob (mm_exact_dedup) and
# perceptual (mm_phash_neardup): find byte ranges shared ACROSS blobs
# even when no two blobs are equal or even near-dup as wholes.
# ---------------------------------------------------------------------------

_CDC_GRAM = 4     # boundary window: the byte 4-gram (phash's unit)
_CDC_MASK = 31    # 5 low bits => expected chunk ~32 bytes at this corpus


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk): each blob's payload split at CONTENT-DEFINED
    boundaries — position i is a cut iff the low 32 bits of the md5 of
    the byte 4-gram starting at i satisfy ``h & _CDC_MASK == 0`` (the
    LBFS rule, Muthitacharoen et al. 2001: boundaries depend only on a
    local window, so an insertion re-aligns all downstream chunks
    instead of shifting every fixed-size block — the property that
    makes chunk dedup work; FastCDC, Xia et al. 2016, is the
    production gear-hash swap-in, md5-per-gram here keeps the oracle
    engine-exact, the _phash_sig_cte discipline). No min/max chunk
    bound is imposed — that keeps every boundary decision independent
    (embarrassingly parallel AND exactly SQL-replayable; min/max
    bounds would make cut i depend on cut i-1, a sequential scan).

    Everything here is per-row JVM HOFs on the scan side — zero
    shuffles; payload bytes ARE the utf-8 text by the media_table
    construction (pure-ASCII corpus, the mm_exact_dedup argument), so
    chars == bytes and DuckDB replays the same cuts on `text`.

    fan_out (r14): md5-per-4-gram boundary detection is the heaviest
    per-byte map work in the inventory; single-split it ran on one
    core (A/B 0.46x with the fan-out, OPTIMIZATION_r14.md)."""
    K = _CDC_GRAM
    media = media_table(spark, sf_dir, fan_out=True)
    body = F.expr("CAST(substring(media, 17, length(media) - 16) AS STRING)")
    cuts = (
        f"CASE WHEN length(body) >= {K + 1} THEN"
        f" filter(sequence(2, length(body) - {K - 1}),"
        f"  i -> (CAST(conv(substring(md5(substring(body, i, {K})), 9, 8),"
        f"        16, 10) AS BIGINT) & {_CDC_MASK}) = 0)"
        f" ELSE CAST(array() AS ARRAY<INT>) END"
    )
    spans = (
        f"transform(starts, (s, j) ->"
        f" substring(body, s,"
        f"  coalesce(try_element_at(starts, j + 2), length(body) + 1) - s))"
    )
    return (
        media.select("doc_id", body.alias("body"))
        .withColumn("starts", F.expr(f"concat(array(1), {cuts})"))
        .select("doc_id", F.explode(F.expr(spans)).alias("chunk"))
    )


def _cdc_oracle() -> str:
    """DuckDB twin of mm_cdc_dedup: replay the cut rule on `text`
    (range() is end-exclusive, so ``range(2, greatest(n-2, 2))`` is
    the engine's ``sequence(2, n-3)`` with the short-doc guard), spans
    via LEAD over the per-doc start positions, then the duplicated-
    chunk report."""
    K = _CDC_GRAM
    return f"""
WITH p AS MATERIALIZED (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n, text AS body FROM documents),
pos AS MATERIALIZED (
  SELECT doc_id, body, unnest(range(2, GREATEST(n - {K - 2}, 2))) AS i FROM p),
cutpos AS (
  SELECT doc_id, CAST(i AS INT) AS s FROM pos
  WHERE (CAST(('0x' || substr(md5(substr(body, CAST(i AS INT), {K})), 9, 8))
         AS UBIGINT) & {_CDC_MASK}) = 0),
starts AS (
  SELECT doc_id, 1 AS s FROM p
  UNION ALL SELECT doc_id, s FROM cutpos),
spans AS (
  SELECT st.doc_id, st.s,
         COALESCE(LEAD(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s),
                  CAST(p.n AS INT) + 1) AS e
  FROM starts st JOIN p USING (doc_id)),
chunks AS (
  SELECT sp.doc_id, substr(p.body, sp.s, sp.e - sp.s) AS chunk
  FROM spans sp JOIN p USING (doc_id))
SELECT md5(chunk) AS chunk_md5,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(length(chunk)) AS BIGINT) AS chunk_bytes,
       CAST((COUNT(*) - 1) * MAX(length(chunk)) AS BIGINT) AS dup_bytes
FROM chunks GROUP BY 1 HAVING COUNT(*) > 1
"""


@register("mm_cdc_dedup", oracle=_cdc_oracle(), category="MM")
def mm_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-level storage dedup over the binary media column — split
    every payload at content-defined boundaries (_cdc_chunks: the
    LBFS/FastCDC family) and report each chunk whose digest occurs
    more than once: copies, distinct blobs touched, chunk size, and
    the bytes a chunk-store would save ((copies-1)·size). This is the
    tier mm_exact_dedup can't see (partial overlap between UNequal
    blobs — shared templates, shared trailers) and mm_phash_neardup
    only scores (it says "similar", CDC says "these exact byte ranges
    are the shared part").

    Scale shape: chunking is per-row HOFs fused into the scan (zero
    pre-shuffle) and digests are computed scan-side; the exact
    count-distinct over doc_id expands to Spark's standard two-phase
    distinct aggregate, so the plan has exactly TWO Exchanges — the
    first keyed (chunk_md5, doc_id) carrying one long + 32-hex + len
    per chunk occurrence (~48 B, partial-aggregated map-side so
    within-doc chunk repeats collapse before shuffling), the second
    per-digest partials only. Payload and chunk text never cross
    either (plan-pinned in tests). At 100 TB the cost is one pass
    over payload bytes + digest-keyed shuffles of ~n_chunks·48 B ≈
    payload·1.5 ‰ — the standard chunk-store ingest plan."""
    ch = _cdc_chunks(spark, sf_dir).select(
        "doc_id",
        F.md5("chunk").alias("chunk_md5"),
        F.length("chunk").cast("bigint").alias("chunk_len"),
    )
    return (
        ch.groupBy("chunk_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.max("chunk_len").cast("bigint").alias("chunk_bytes"),
        )
        .filter(F.col("n_copies") > 1)
        .withColumn(
            "dup_bytes",
            ((F.col("n_copies") - 1) * F.col("chunk_bytes")).cast("bigint"),
        )
    )
