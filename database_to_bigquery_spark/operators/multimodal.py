"""X15: multimodal columns — binary payloads with typed metadata.

Design (for real image/audio/video at 100 TB):
  * payloads are opaque `binary` columns; metadata is a typed struct
    (mime, n_bytes, checksum) carried alongside — never parsed on the
    driver;
  * decode / feature-extraction / resize / frame-sample run as
    Arrow-batched `mapInPandas` over partition-local batches, so
    per-record codec work scales linearly with executors;
  * the actual codec calls are STUBBED (no image/audio libs in this
    container): `decode_image_batch(use_fake_codec=False)` raises
    NotImplementedError; the deterministic fake implementation proves
    the Spark-side plumbing (schema, batch shape, Arrow transfer) —
    which is real and tested.

The fixture corpus has no binary column, so the oracle-checked query
manufactures payloads from document text (UTF-8 bytes) — byte-level
semantics identical in Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..data import load_table, load_table_spread
from ..registry import query
from .pairs import bucket_pairs, drop_hot_buckets

DECODE_SCHEMA = "doc_id long, width int, height int, mean_luma double"


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decode: derives a plausible
    (width, height, mean_luma) from the bytes themselves."""
    n = len(payload)
    return {
        "width": 16 + n % 64,
        "height": 16 + (n // 64) % 64,
        "mean_luma": float(sum(payload[:64]) % 256),
    }


def decode_image_batch(
    use_fake_codec: bool = False,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas operator: (doc_id, payload: bytes) →
    decoded features, one Arrow batch at a time.

    A real implementation would call PIL/libvips per batch; that
    library is not in this container, so with use_fake_codec=False the
    operator raises — a clearly-marked stub per the build contract.
    The flag is captured in the closure so it ships to executors.
    """

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not use_fake_codec:
                raise NotImplementedError(
                    "image codec not available in this container; "
                    "pass use_fake_codec=True for the deterministic fake"
                )
            feats = pdf["payload"].map(lambda p: _fake_decode(bytes(p)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": feats.map(lambda f: f["width"]).astype("int32"),
                    "height": feats.map(lambda f: f["height"]).astype("int32"),
                    "mean_luma": feats.map(lambda f: f["mean_luma"]),
                }
            )

    return _decode


def with_payload(documents: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata struct —
    the canonical multimodal row shape."""
    payload = F.col("text").cast("binary")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def decoded_features(documents: DataFrame, use_fake_codec: bool = False) -> DataFrame:
    """The full multimodal pipeline: payload column → mapInPandas decode."""
    return (
        with_payload(documents)
        .select("doc_id", "payload")
        .mapInPandas(decode_image_batch(use_fake_codec), schema=DECODE_SCHEMA)
    )


@query(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text)                                  AS checksum,
           'application/octet-stream'                 AS mime
    FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload construction + metadata extraction, flattened for
    the oracle (byte length and checksum computed on the payload
    itself, proving binary round-trip fidelity)."""
    d = load_table(spark, sf_dir, "documents")
    p = with_payload(d)
    return p.select(
        "doc_id",
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


@query("mm_fake_decode")  # fake codec → rows-only check
def mm_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode pipeline with the deterministic fake codec — proves
    the mapInPandas batch plumbing (schema, Arrow transfer, partition
    parallelism) without real codecs."""
    d = load_table(spark, sf_dir, "documents")
    return decoded_features(d, use_fake_codec=True)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_offset long, frame_bytes binary"


_FRAME_BYTES = 32  # fixed frame size; every _FRAME_STRIDE-th frame is kept
_FRAME_STRIDE = 4


def frame_sample_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas operator for video-style frame sampling: treat the
    payload as a sequence of fixed-size frames and emit every
    `_FRAME_STRIDE`-th one. A real implementation would seek keyframes
    via pyav/ffmpeg per batch; the byte-slicing fake keeps the exact
    Spark-side contract (expanding output — rows out > rows in — with
    binary columns over Arrow) testable without codecs."""
    for pdf in it:
        out = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_bytes": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            n_frames = len(raw) // _FRAME_BYTES
            for k, f in enumerate(range(0, n_frames, _FRAME_STRIDE)):
                off = f * _FRAME_BYTES
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(k)
                out["frame_offset"].append(off)
                out["frame_bytes"].append(raw[off : off + _FRAME_BYTES])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "frame_offset": pd.Series(out["frame_offset"], dtype="int64"),
                "frame_bytes": pd.Series(out["frame_bytes"], dtype=object),
            }
        )


@query(
    "mm_frame_sample",
    oracle="""
    WITH frames AS (
      -- corpus is pure ASCII (verified), so VARCHAR substr == byte
      -- slice and md5(varchar) == md5(utf8 bytes) == Spark's
      -- md5(binary slice)
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(octet_length(encode(text)) // 32 AS BIGINT) - 1)) AS f
      FROM documents
      WHERE octet_length(encode(text)) >= 32)
    SELECT doc_id,
           CAST(f // 4 AS INT)  AS frame_idx,
           CAST(f * 32 AS BIGINT) AS frame_offset,
           md5(substr(text, CAST(f * 32 + 1 AS BIGINT), 32)) AS frame_md5
    FROM frames
    WHERE f % 4 = 0
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the mapInPandas plumbing, every 4th
    32-byte frame of each payload, with frames checksummed so the
    oracle can verify the exact bytes that crossed the Arrow boundary
    (DuckDB slices the same payload arithmetic on its side).

    Scale: expanding map-only op — no shuffle; each Arrow batch yields
    ~len/128 output rows, and partition parallelism carries over from
    the scan."""
    d = load_table(spark, sf_dir, "documents")
    frames = (
        with_payload(d)
        .select("doc_id", "payload")
        .mapInPandas(frame_sample_batch, schema=FRAME_SCHEMA)
    )
    return frames.select(
        "doc_id", "frame_idx", "frame_offset", F.md5("frame_bytes").alias("frame_md5")
    )


RESIZE_SCHEMA = "doc_id long, out_bytes binary, out_len int"


def resize_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas operator for the resize/downsample step: keep every
    4th byte of the payload (a real implementation would be a
    vips/PIL thumbnail per batch; byte striding keeps the exact contract
    — binary in, smaller binary out, length bookkeeping — testable
    without codec libs)."""
    for pdf in it:
        out = pdf["payload"].map(lambda p: bytes(p)[::4])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "out_bytes": out,
                "out_len": out.map(len).astype("int32"),
            }
        )


@query(
    "mm_resize",
    oracle="""
    WITH strided AS (
      SELECT doc_id,
             string_agg(substr(text, CAST(i AS BIGINT), 1), '' ORDER BY i)
               AS resized
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, LENGTH(text), 4)) AS i
        FROM documents
      )
      GROUP BY doc_id
    )
    SELECT doc_id,
           md5(resized)                       AS out_md5,
           CAST(LENGTH(resized) AS INT)       AS out_len
    FROM strided
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize/downsample leg of the multimodal pipeline (decode /
    feature-extract / resize / frame-sample): every 4th payload byte
    survives, output checksummed so the oracle verifies the exact bytes
    (ASCII corpus → DuckDB's strided char-agg builds the identical
    string). Map-only Arrow-batched op, no shuffle — the oracle's
    explode+string_agg formulation is the slow way; the operator is a
    row-local byte slice."""
    d = load_table(spark, sf_dir, "documents")
    resized = (
        with_payload(d)
        .select("doc_id", "payload")
        .mapInPandas(resize_batch, schema=RESIZE_SCHEMA)
    )
    return resized.select(
        "doc_id", F.md5("out_bytes").alias("out_md5"), F.col("out_len")
    )


_PH_PIXELS = 128  # strided sample positions ("pixels") per payload
_PH_BANDS = 8  # pigeonhole: hamming <= 7 => some band equal
_PH_BAND_BITS = _PH_PIXELS // _PH_BANDS  # 16 → 65536 bucket values/band
# Output cut ≈ the old 7-of-56 relative threshold. Detection is
# pigeonhole-GUARANTEED only to hamming ≤ 7 (8 bands); 8–20 rides on
# edit locality: each band is a contiguous slice of the document's
# strided pixels, so a localized edit concentrates its flipped bits in
# few bands and leaves clean bands to collide on.
_PH_HAMMING_MAX = 20


def _ahash_band_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, text) → (doc_id, bands: array<int>[8]) — the 128-pixel
    aHash packed as 8 independent 16-bit band values, one Arrow batch
    at a time. Pure per-row arithmetic (no state), identical to the
    oracle's closed form: pixel i (1-based) is the codepoint at
    1 + (i−1)·len/128 of lower(text), bit i set iff code·128 > Σcodes,
    band j = bits [16j, 16j+16) packed little-endian."""
    for pdf in it:
        if len(pdf) == 0:
            continue
        out = []
        for text in pdf["text"]:
            s = text.lower()
            L = len(text)
            codes = [ord(s[(k * L) // _PH_PIXELS]) for k in range(_PH_PIXELS)]
            tot = sum(codes)
            bands = [0] * _PH_BANDS
            for j in range(_PH_BANDS):
                base = j * _PH_BAND_BITS
                v = 0
                for k in range(_PH_BAND_BITS):
                    if codes[base + k] * _PH_PIXELS > tot:
                        v |= 1 << k
                bands[j] = v
            out.append(bands)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "bands": out})


@query(
    "mm_phash_neardup",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(range(1, {_PH_PIXELS + 1}), i ->
               ascii(substr(lower(text),
                 CAST(1 + ((i - 1) * LENGTH(text)) // {_PH_PIXELS} AS BIGINT),
                 1))) AS codes
      FROM documents WHERE LENGTH(text) >= {_PH_PIXELS}),
    t AS (SELECT doc_id, codes, list_sum(codes) AS tot FROM px),
    hb AS (
      SELECT doc_id,
             list_transform(range(0, {_PH_BANDS}), j ->
               list_sum(list_transform(range(0, {_PH_BAND_BITS}), k ->
                 CASE WHEN codes[{_PH_BAND_BITS} * j + k + 1] * {_PH_PIXELS}
                           > tot
                      THEN (1 << k) ELSE 0 END))) AS bvals
      FROM t),
    bandrows AS (
      SELECT doc_id, bvals, j AS band_idx, bvals[j + 1] AS band_val
      FROM hb, LATERAL (SELECT unnest(range(0, {_PH_BANDS})) AS j)),
    capped AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bsz
        FROM bandrows) WHERE bsz <= 64),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.bvals AS ba, b.bvals AS bb
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    h AS (
      SELECT doc_a, doc_b,
             CAST(list_sum(list_transform(range(1, {_PH_BANDS + 1}), j ->
               bit_count(xor(ba[j], bb[j])))) AS INT) AS hamming
      FROM cand)
    SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= {_PH_HAMMING_MAX}
    """,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads —
    the aHash algorithm (each "pixel" brighter than the image mean →
    1 bit) with banded pigeonhole blocking, the standard cheap
    image-dedup tier below embedding similarity.

    Pixels are proxied by 128 codepoints STRIDED across the payload
    (position 1 + (i−1)·len/128 — the downsampling a real aHash does
    to the image grid; the fixture corpus has no real images, same
    honest stand-in as the rest of this module). The hash is stored
    as its 8 band values directly (array<int>, 16 bits each) — no
    sign games with a packed 128-bit word, and the bucket key space
    is 2¹⁶ per band, so buckets stay discriminative deep into the
    millions of docs. The previous 56-bit/7-bit-band form had only
    1024 possible buckets: at the 250k-doc twin EVERY bucket blew
    past the cap and the operator returned zero pairs — band width
    must scale with corpus size or the cap silently deletes recall
    (grow _PH_PIXELS before the corpus nears 64·2¹⁶ eligible docs).

    Hash build is ONE Arrow-batched pass (`mapInPandas`): per doc, a
    single lower() + 128 codepoint reads. The pure-expression form
    (transform(sequence(...), i -> ascii(substr(lower(text), ...))))
    re-evaluates lower(text) per lambda ELEMENT — Spark HOF lambda
    bodies are interpreted per element with no common-subexpression
    elimination — measured 51 s of the x50 twin's 74 s wall for the
    hash build alone; the batched pass does the identical arithmetic
    (integer cross-multiplication code·128 > Σcodes — no division, no
    floats) in ~3 s. Same trade as dedup_semdedup's vectorized
    assignment; the closed form stays oracle-checked end to end.

    Buckets larger than 64 docs are SKIPPED (the standard LSH
    hot-bucket rule: a mega-bucket is a mega-cluster of exact/near-
    exact copies that dedup_exact_text/dedup_minhash_lsh already
    catch, and joining it is quadratic — the sf0.1 census measured
    111 s without the cap, 1.5 s with it).

    Scale: hash build is map-only; 8 bands × 16 bits means any pair
    within hamming distance 7 shares at least one identical band
    (pigeonhole) and is found within (band_idx, band_val) buckets —
    candidates only form within a bucket, never all-pairs. Exact
    hamming (Σ bit_count(xor) over the 8 band values, unrolled so it
    stays in codegen) then cuts at _PH_HAMMING_MAX = 20 — the old
    form's 7-of-56 relative threshold. Detection is guaranteed only
    to h ≤ 7; 8–20 relies on edit locality (a band is a contiguous
    slice of the doc's strided pixels, so a localized edit leaves
    clean bands to collide on); the pigeonhole-complete variant in
    this family is dedup_simhash.

    Candidate generation is bucket-grouped (`pairs.bucket_pairs`): the
    capped buckets' i<j pairs are emitted with the hamming cut
    in-array, so the pandas hash runs once (a band self-join computed
    it twice, as separate concurrent AQE stages), there is one band
    shuffle, and only (doc_a, doc_b, hamming) rows — never the band
    arrays — cross the final distinct's exchange."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.length("text") >= _PH_PIXELS
    )
    h = d.select("doc_id", "text").mapInPandas(
        _ahash_band_batches, "doc_id long, bands array<int>"
    )
    bands = h.select(
        "doc_id",
        "bands",
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    # sort_array orders members by doc_id (first struct field, unique
    # per bucket), so doc_a < doc_b; hamming is a pure function of the
    # pair, so the distinct across buckets keeps one row per pair.
    bands = drop_hot_buckets(bands, cap=64, keys=("band_idx", "band_val"))
    grouped = bands.groupBy("band_idx", "band_val").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "bands"))).alias("ms")
    )
    xor_sum = " + ".join(
        f"bit_count(element_at(a.bands, {j}) ^ element_at(b.bands, {j}))"
        for j in range(1, _PH_BANDS + 1)
    )
    return bucket_pairs(
        grouped,
        "ms",
        {"doc_a": "a.doc_id", "doc_b": "b.doc_id", "hamming": f"cast({xor_sum} as int)"},
        keep=f"p.hamming <= {_PH_HAMMING_MAX}",
    ).distinct()


@query(
    "mm_caption_pairs",
    oracle="""
    WITH pairs AS (
      SELECT doc_id,
             octet_length(CAST(text AS BLOB))             AS n_bytes,
             LENGTH(string_split(text, ' '))              AS n_tokens,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % 8                                        AS shard
      FROM documents),
    pos AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY shard
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM pairs)
    SELECT doc_id,
           CAST(shard AS INT)            AS shard,
           CAST((rn - 1) // 16 AS INT)   AS batch_idx,
           CAST(n_bytes AS BIGINT)       AS n_bytes,
           CAST(n_tokens AS BIGINT)      AS n_tokens
    FROM pos
    """,
)
def mm_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text contrastive batch builder (the CLIP training-prep
    shape): each payload is paired with its caption stats and assigned
    a reproducible (shard, batch_idx) slot — shard by md5(doc_id),
    md5-shuffled order within the shard, fixed batch size 16.

    The md5 ordering IS the training shuffle (same idiom as
    q_deterministic_shuffle): reproducible across engines, reruns, and
    partitionings, yet uncorrelated with ingestion order — so batch
    composition is stable for exact training resume. Scale: the only
    window is partitioned by shard (never global); shards stream as
    independent tasks and each writes its own batch files. Payload
    bytes stay opaque (octet_length only) — the decode leg is
    mm_fake_decode's job, not the batch builder's."""
    base = load_table(spark, sf_dir, "documents")
    pairs = base.select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % 8
        ).alias("shard"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("shard").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return pairs.withColumn("rn", rn).select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        (((F.col("rn") - 1) / 16).cast("int")).alias("batch_idx"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "n_tokens",
    )


_AF_WIN = 16  # samples per frame
_AF_HOP = 8  # hop size (50% overlap)


@query(
    "mm_audio_frames",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(
               range(1, LEAST(LENGTH(text), 128) + 1),
               i -> ascii(substr(text, i, 1))) AS samples
      FROM documents),
    frames AS (
      SELECT doc_id, f AS frame_idx,
             list_slice(samples, f * {_AF_HOP} + 1,
                        f * {_AF_HOP} + {_AF_WIN}) AS frame
      FROM px,
           LATERAL (SELECT unnest(range(0,
             CASE WHEN len(samples) >= {_AF_WIN}
                  THEN (len(samples) - {_AF_WIN}) // {_AF_HOP} + 1
                  ELSE 0 END)) AS f))
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(len(frame) AS INT)        AS n_samples,
           CAST(list_sum(list_transform(frame, v -> v * v)) AS BIGINT)
             AS energy,
           CAST(list_max(frame) AS INT)   AS peak
    FROM frames
    """,
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style framing of a media payload: slice the sample stream
    into overlapping fixed windows (16 samples, hop 8 — the 25 ms /
    10 ms hop shape of every speech front-end) and emit per-frame
    energy (Σ sample²) and peak — the feature-extraction leg of an
    audio pipeline, with samples proxied by payload codepoints
    (first 128) exactly as mm_phash_neardup proxies pixels.

    Everything is JVM array arithmetic over exact integers (energy is
    an integer sum of squares — no floats at all), so the whole
    framing pipeline is oracle-checked; a real deployment swaps the
    proxy for decoded PCM behind the same mapInPandas seam as
    decode_image_batch and keeps this exact plan. Map-only: each row
    expands to its ≤15 frames in place, no shuffle anywhere."""
    d = load_table(spark, sf_dir, "documents")
    # built via expr: the lambda variable indexes substr directly
    px = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, least(length(text), 128)),"
            " i -> ascii(substr(text, i, 1)))"
        ).alias("samples"),
    )
    n_frames = F.when(
        F.size("samples") >= _AF_WIN,
        F.floor((F.size("samples") - _AF_WIN) / _AF_HOP).cast("int") + 1,
    ).otherwise(0)
    frames = px.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        "samples",
    ).withColumn(
        "frame",
        F.expr(f"slice(samples, frame_idx * {_AF_HOP} + 1, {_AF_WIN})"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.size("frame").cast("int").alias("n_samples"),
        F.aggregate(
            F.col("frame"),
            F.lit(0).cast("long"),
            lambda a, v: a + (v * v).cast("long"),
        ).alias("energy"),
        F.array_max("frame").cast("int").alias("peak"),
    )


# ------------------------------------------------- scene splitting ----

_SCENE_FRAME = 32  # bytes per frame
_SCENE_T = 120  # boundary when |sig diff| >= T


@query(
    "mm_scene_split",
    # Oracle is BYTE-based to match the Spark path exactly: the payload
    # is text.cast(binary) = UTF-8 bytes, so framing/signatures must use
    # octet semantics, not characters (a char oracle only agrees on pure
    # ASCII). DuckDB can't slice BLOBs, so bytes go through hex(): two
    # hex chars per byte, each parsed back via strpos on the hex
    # alphabet — bit-identical to numpy's uint8 frame sums.
    oracle=f"""
    WITH f AS (
      SELECT doc_id, CAST(i AS INT) / {_SCENE_FRAME} AS frame_idx,
             substr(hex(encode(text)), CAST(i AS INT) * 2 + 1, {_SCENE_FRAME * 2}) AS fh
      FROM documents
      CROSS JOIN LATERAL (
        SELECT unnest(range(0, octet_length(encode(text)) - {_SCENE_FRAME - 1},
                            {_SCENE_FRAME})) AS i)),
    sig AS (
      SELECT doc_id, frame_idx,
             list_sum(list_transform(range(0, {_SCENE_FRAME}),
               k -> (strpos('0123456789ABCDEF', substr(fh, CAST(2*k+1 AS INT), 1)) - 1) * 16
                  + strpos('0123456789ABCDEF', substr(fh, CAST(2*k+2 AS INT), 1)) - 1)) AS s
      FROM f),
    d AS (
      SELECT doc_id, frame_idx, s,
             ABS(s - LAG(s) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS diff
      FROM sig),
    b AS (
      SELECT doc_id, frame_idx,
             SUM(CASE WHEN diff IS NULL OR diff >= {_SCENE_T} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY frame_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
      FROM d)
    SELECT doc_id, CAST(scene_id AS INT) AS scene_id,
           CAST(MIN(frame_idx) AS INT) AS start_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM b GROUP BY doc_id, scene_id
    """,
)
def mm_scene_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene splitting over the frame sequence: consecutive-frame
    signature differences above a threshold open a new scene (the
    shot-boundary heuristic every keyframe-selection pipeline starts
    from); scenes come out as gaps-and-islands over the boundary
    flags. The frame signature here is the exact integer byte sum per
    {_SCENE_FRAME}-byte frame — a real pipeline swaps in a per-frame
    color histogram or pHash from the decoded stream (the
    frame_sample_batch seam); everything downstream of the signature
    — lag, threshold, island numbering, per-scene rollup — is the
    production plan and is oracle-checked exactly.

    Scale: signature extraction is a map-only Arrow pass (one row per
    frame, linear); scene assembly is ONE shuffle on doc_id shared by
    the lag window, the island cumsum, and the final rollup —
    Catalyst reuses the single sort."""
    d = load_table(spark, sf_dir, "documents")

    def frame_sigs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "frame_idx": [], "s": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = len(raw) // _SCENE_FRAME
                if n_frames == 0:
                    continue
                sums = (
                    raw[: n_frames * _SCENE_FRAME]
                    .reshape(n_frames, _SCENE_FRAME)
                    .astype(np.int64)
                    .sum(axis=1)
                )
                out["doc_id"].extend([doc_id] * n_frames)
                out["frame_idx"].extend(range(n_frames))
                out["s"].extend(sums.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "s": pd.Series(out["s"], dtype="int64"),
                }
            )

    sig = (
        with_payload(d)
        .select("doc_id", "payload")
        .mapInPandas(frame_sigs, schema="doc_id long, frame_idx int, s long")
    )
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    diff = F.abs(F.col("s") - F.lag("s").over(w))
    boundary = F.when(diff.isNull() | (diff >= _SCENE_T), 1).otherwise(0)
    scenes = sig.withColumn(
        "scene_id",
        F.sum(boundary).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return scenes.groupBy("doc_id", "scene_id").agg(
        F.min("frame_idx").cast("int").alias("start_frame"),
        F.count("*").alias("n_frames"),
    ).select(
        "doc_id",
        F.col("scene_id").cast("int").alias("scene_id"),
        "start_frame",
        F.col("n_frames").cast("long").alias("n_frames"),
    )
