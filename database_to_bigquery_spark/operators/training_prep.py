"""Training-run preparation operators over the ``documents`` corpus.

Nothing like this exists in the reference (its transform surface is
rename/drop/cast, reference ``transformations.py:10-71``); these are
§2b extension ops for the last mile of an LLM data pipeline — after
filtering and dedup, the corpus must be *packed* into token-budget
groups and *shuffled* reproducibly before it is written out as
training shards.

  text_pack_sequences      greedy contiguous packing of documents into
                           fixed token-budget bins, per shard
  q_deterministic_shuffle  reproducible global shuffle as (shard, pos)
                           — md5 order, no seed state, no global sort
  text_chunk_fixed         overlapping fixed-size chunking (RAG /
                           embedding prep), map-only expansion
  q_leakage_safe_split     group-hashed train/val/test split (no
                           source straddles splits), shuffle-free

Scale design (both): the corpus is first split into shards by a pure
hash of doc_id, and ALL ordering work (cumulative sums, row_number)
happens inside a shard — windows are partitioned, never global, so a
100 TB corpus packs/shuffles as thousands of independent shard tasks
writing independent output files. A single global ORDER BY row_number
would serialize into one partition; (shard, pos) gives the same
reproducible total order ((shard, pos) lexicographic) with none of the
bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import global_prefix, load_table
from ..registry import query

_N_SHARDS = 8  # fixture-sized; at 100 TB this is thousands
_BIN_TOKENS = 2048  # target tokens per packed training sequence


def _shard_col() -> F.Column:
    """Deterministic shard id from the first md5 nibble of doc_id —
    engine-portable (same bytes in Spark and DuckDB), unlike
    hash()/random()."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % _N_SHARDS
    ).alias("shard")


_SHARD_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)"
    f" % {_N_SHARDS}"
)


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST({_SHARD_SQL} AS BIGINT) AS shard,
             CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (
                  PARTITION BY shard ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens)
               / {_BIN_TOKENS}.0) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT shard, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed
    GROUP BY shard, bin_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~2048-token training bins: within each shard,
    docs are laid out in doc_id order and a document starts the bin its
    running token offset falls into (floor(prefix_sum/budget) — greedy
    contiguous packing; a doc may straddle its bin boundary, which is
    exactly what sequence packing with cross-document attention masking
    accepts). Returned per-bin so the oracle checks bin occupancy.

    Scale: token counting is row-local; the only wide ops are the
    per-shard cumulative-sum window and the (shard, bin) rollup — both
    partitioned by shard, so bins materialize in parallel across the
    cluster and each shard's output is one independent shard file."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _shard_col(),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(_BIN_TOKENS)),
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


@query(
    "q_deterministic_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST({_SHARD_SQL} AS BIGINT) AS shard,
           ROW_NUMBER() OVER (
             PARTITION BY {_SHARD_SQL}
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS pos
    FROM documents
    """,
)
def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle: total training order = (shard, pos)
    lexicographic, where shard and within-shard rank both derive from
    md5(doc_id) — no RNG seed, no engine-specific sample state, same
    order every run on every engine (auditable epochs).

    Scale: this is the shuffle pattern that works at 100 TB — row_number
    is PARTITIONed by shard, so each shard sorts independently (ordinary
    distributed sort of shard-sized data) instead of a global ORDER BY
    funneling the corpus through one partition. Writers then emit one
    file per shard, already in epoch order."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", _shard_col())
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return d.withColumn("pos", F.row_number().over(w))


_CHUNK = 200  # chars per chunk
_STRIDE = 150  # 50-char overlap between consecutive chunks


@query(
    "text_chunk_fixed",
    oracle=f"""
    SELECT doc_id,
           CAST(s / {_STRIDE} AS BIGINT)               AS chunk_idx,
           CAST(s AS BIGINT)                           AS chunk_start,
           md5(substr(text, CAST(s + 1 AS BIGINT), {_CHUNK})) AS chunk_md5,
           CAST(LENGTH(substr(text, CAST(s + 1 AS BIGINT), {_CHUNK})) AS BIGINT)
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, LENGTH(text) - 1, {_STRIDE})) AS s
      FROM documents
    )
    """,
)
def text_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking (200-char windows, 50-char
    overlap) — the retrieval/embedding prep step that turns documents
    into chunk rows; chunks are checksummed so the oracle verifies the
    exact substrings.

    Scale: pure map-side expansion (sequence + explode + substring,
    all codegen'd JVM expressions — no Python, no shuffle); output
    partitioning inherits the scan, and downstream embedding of the
    ~L/stride chunk rows parallelizes trivially. The corpus is ASCII
    (verified), so char offsets are byte offsets on both engines."""
    d = load_table(spark, sf_dir, "documents")
    s = F.col("s")
    chunk = F.substring(F.col("text"), (s + 1).cast("int"), _CHUNK)
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(0), F.length("text") - 1, F.lit(_STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            (s / _STRIDE).cast("long").alias("chunk_idx"),
            s.cast("long").alias("chunk_start"),
            F.md5(chunk).alias("chunk_md5"),
            F.length(chunk).cast("long").alias("chunk_len"),
        )
    )


@query(
    "q_leakage_safe_split",
    oracle="""
    SELECT doc_id, source,
           CASE
             WHEN CAST('0x' || substr(md5(source), 1, 4) AS BIGINT) % 10 < 8
               THEN 'train'
             WHEN CAST('0x' || substr(md5(source), 1, 4) AS BIGINT) % 10 = 8
               THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split (80/10/10) hashed on the GROUP key
    (source), not the row key: every document from one source lands in
    the same split, so near-duplicates and shared boilerplate within a
    source can never leak from train into eval. Same md5 trick as
    q_hash_sample — a pure row-local predicate, reproducible across
    engines and reruns, zero shuffles; changing the ratio is an edit to
    the bucket thresholds, not a data move. (The property test asserts
    the no-straddle invariant.)"""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("long") % 10
    )
    return d.select(
        "doc_id",
        "source",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
        .alias("split"),
    )


@query(
    "q_temperature_mixture",
    oracle="""
    WITH avail AS (
      SELECT lang, CAST(SUM(n_chars) // 4 AS BIGINT) AS tokens
      FROM documents GROUP BY lang),
    tot AS (SELECT SUM(tokens) AS total, SUM(SQRT(tokens)) AS z FROM avail)
    SELECT lang, tokens,
           ROUND(CAST(tokens AS DOUBLE) / total, 6)         AS p_raw,
           ROUND(SQRT(tokens) / z, 6)                       AS p_temp,
           ROUND(SQRT(tokens) / z * total / tokens, 4)      AS epochs
    FROM avail CROSS JOIN tot
    """,
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based training-mixture plan (α = 0.5): per language,
    the available token budget, its natural share p_raw, the
    temperature-flattened sampling share p_temp ∝ tokens^α, and the
    implied epoch count (oversampling factor) if the total budget is
    held constant — the standard rebalancing that keeps low-resource
    languages from vanishing (multilingual-BERT / XLM-R exponential
    smoothing; α=1 is proportional, α=0 uniform).

    epochs > 1 rows are the upsampled tails; at α=0.5 the head
    language's epochs fall below 1 (downsampled). Token counts use the
    chars//4 heuristic of text_token_count.

    Scale: one partial-aggregated shuffle on lang for the per-group
    token sums, then a 1-row broadcast of the normalizers — the
    mixture plan for a 100 TB corpus costs one scan. The output table
    is what q_dataset_mixture / q_weighted_sample consume as rates."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        (F.sum("n_chars") / F.lit(4)).cast("long").alias("tokens")
    )
    tot = avail.agg(
        F.sum("tokens").alias("total"), F.sum(F.sqrt("tokens")).alias("z")
    )
    return avail.join(F.broadcast(tot)).select(
        "lang",
        "tokens",
        F.round(F.col("tokens").cast("double") / F.col("total"), 6).alias("p_raw"),
        F.round(F.sqrt("tokens") / F.col("z"), 6).alias("p_temp"),
        F.round(
            F.sqrt("tokens") / F.col("z") * F.col("total") / F.col("tokens"), 4
        ).alias("epochs"),
    )


# ------------------------------------------------ class balancing ----


@query(
    "q_class_balanced_sample",
    oracle="""
    WITH m AS (
      SELECT MIN(cnt) AS floor_n
      FROM (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang)),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM ranked, m
    WHERE rk <= m.floor_n
    """,
)
def q_class_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every class (here `lang`) is cut
    to the size of the SMALLEST class, members chosen by md5-of-id
    rank — the classifier-training prep that stops a 4:1 majority
    class from dominating the loss, with a selection that is
    reproducible across engines, runs, and partitionings (unlike
    sampleBy, whose keep-set is partition-order dependent).

    Scale: one shuffle on the class key for the ranking window (class
    cardinality bounds skew; a 100-class corpus gets 100 partitions of
    work), and the per-class floor is a 1-row broadcast — no driver
    round-trip. Swap the md5 rank key for a quality score descending
    and this same plan becomes 'keep the best N per class'."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang").count().agg(F.min("count").alias("floor_n"))
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("doc_id", "lang").withColumn("rk", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("floor_n"))
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


# ------------------------------------------------ shard planning ----

_SHARD_BYTES = 4096


@query(
    "q_webdataset_shard_plan",
    oracle=f"""
    WITH sized AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_bytes
      FROM documents),
    assigned AS (
      SELECT source, doc_id, n_chars,
             CAST(FLOOR(prev_bytes / {_SHARD_BYTES}.0) AS INT) AS shard_id
      FROM sized)
    SELECT source, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM assigned GROUP BY source, shard_id
    """,
)
def q_webdataset_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset/tar-shard planning: assign documents to fixed-byte-
    budget shards in deterministic doc_id order within each source —
    the manifest a shard writer consumes to build the tar files
    training loaders stream. Assignment is running-bytes-before-me
    integer-divided by the budget, so a shard closes as soon as it
    overflows (next-fit, the WebDataset convention — shards are
    *approximately* the target size, never split a sample).

    Scale: the cumulative window partitions by source, so parallelism
    is the source count and no global SinglePartition stage exists;
    for one giant source, pre-split by a hash prefix and offset shard
    ids per split (the q_global_ranks_scalable two-phase pattern).
    The rollup reuses the window's (source) partitioning."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.floor(F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / _SHARD_BYTES)
        .cast("int")
        .alias("shard_id"),
    )
    return assigned.groupBy("source", "shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# -------------------------------------------------- shard writing ----

_WDS_SHARDS = 8  # fixture shard count for the writer demo


@query(
    "mm_webdataset_write",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_WDS_SHARDS} AS INT) AS shard_id,
             octet_length(encode(text)) AS nb
      FROM documents),
    per AS (
      SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(nb) AS BIGINT) AS payload_bytes,
             -- exact USTAR size: 512B header + data padded to 512 per
             -- member, 1024B end-of-archive, whole archive padded to
             -- the 10240B record size
             SUM(512 + CAST(CEIL(nb / 512.0) AS BIGINT) * 512) + 1024 AS data_bytes
      FROM m GROUP BY shard_id)
    SELECT shard_id, n_members, payload_bytes,
           CAST(CEIL(data_bytes / 10240.0) AS BIGINT) * 10240 AS tar_bytes
    FROM per
    """,
)
def mm_webdataset_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard WRITING, not just planning: each shard group
    builds the actual deterministic USTAR archive bytes executor-side
    (members ``<doc_id>.txt`` in doc_id order, mtime/uid/gid = 0, mode
    0644 — byte-reproducible across runs and machines) and reports
    (n_members, payload_bytes, tar_bytes). The ORACLE checks the
    writer against tar-format arithmetic exactly: 512-byte header +
    512-padded data per member + 1024 end-of-archive, padded to the
    10240 record size — so a writer that mis-pads, drops a member, or
    double-writes fails the gate, while the archive CONTENTS are
    verified member-by-member in the local test (DuckDB can't untar).

    Scale: one shuffle on shard_id; each task streams its members
    into one archive and (in production) uploads it to object storage
    from the executor — the blob never crosses the driver. Here the
    stats row is the output and the bytes are hashed away; the
    `build_tar` helper is the same code path the local test extracts.
    Shard assignment here is the fixture's simple mod-N; production
    feeds the q_webdataset_shard_plan manifest through the identical
    writer."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _WDS_SHARDS).cast("int").alias("shard_id"),
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
    )

    def write_shard(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        members = [
            (f"{int(i)}.txt", bytes(b)) for i, b in zip(pdf["doc_id"], pdf["payload"])
        ]
        blob = build_tar(members)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iat[0])],
                "n_members": [len(members)],
                "payload_bytes": [int(sum(len(b) for _, b in members))],
                "tar_bytes": [len(blob)],
            }
        )

    return d.groupBy("shard_id").applyInPandas(
        write_shard,
        "shard_id int, n_members long, payload_bytes long, tar_bytes long",
    )


def build_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministic USTAR archive from (name, payload) members:
    fixed mtime/uid/gid/mode and caller-fixed member order make the
    bytes a pure function of the inputs — the property that lets
    shard-level checksums detect corrupt re-uploads and makes
    re-built shards cache-identical."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name=name)
            ti.size = len(data)
            ti.mtime = 0
            ti.uid = 0
            ti.gid = 0
            ti.uname = ""
            ti.gname = ""
            ti.mode = 0o644
            tf.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def parse_tar(blob: bytes) -> list[tuple[str, bytes]]:
    """Inverse of build_tar: (name, payload) members of a USTAR blob.
    stdlib tarfile over an in-memory buffer — the same parser the
    file-based reader maps over executor-side."""
    import io
    import tarfile

    out: list[tuple[str, bytes]] = []
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:") as tf:
        for ti in tf:
            if ti.isfile():
                f = tf.extractfile(ti)
                out.append((ti.name, f.read() if f is not None else b""))
    return out


@query(
    "mm_webdataset_read",
    oracle=f"""
    SELECT doc_id,
           CAST(doc_id % {_WDS_SHARDS} AS INT) AS shard_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def mm_webdataset_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard READING — the inverse of mm_webdataset_write,
    proving the full round trip distributed: each shard group builds
    its USTAR archive (the writer's exact code path), then PARSES the
    blob back and emits one row per recovered member (doc_id from the
    member name, byte length, payload md5). The oracle recomputes
    length + md5 from the source documents directly, so a reader that
    truncates a member, mangles padding, or mis-associates names
    fails the value hash — tar-in-the-middle is invisible only if
    both directions are byte-correct.

    Scale: same one-shuffle shape as the writer; in production the
    read side is `read_webdataset` below (binaryFile scan of *.tar →
    mapInPandas parse) where archives stream member-at-a-time through
    tarfile without materializing the whole shard in memory twice."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _WDS_SHARDS).cast("int").alias("shard_id"),
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
    )

    def roundtrip_shard(pdf):
        import hashlib

        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        members = [
            (f"{int(i)}.txt", bytes(b)) for i, b in zip(pdf["doc_id"], pdf["payload"])
        ]
        recovered = parse_tar(build_tar(members))
        return pd.DataFrame(
            {
                "doc_id": [int(n[: -len(".txt")]) for n, _ in recovered],
                "shard_id": int(pdf["shard_id"].iat[0]),
                "n_bytes": [len(b) for _, b in recovered],
                "payload_md5": [hashlib.md5(b).hexdigest() for _, b in recovered],
            }
        )

    return d.groupBy("shard_id").applyInPandas(
        roundtrip_shard,
        "doc_id long, shard_id int, n_bytes long, payload_md5 string",
    )


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Production WebDataset reader: scan ``<path>/*.tar`` with the
    binaryFile source (one row per shard — Spark assigns whole files
    to tasks, so each archive parses where its bytes land) and explode
    into (shard, member_name, key, ext, n_bytes, payload) rows.
    WebDataset convention: members group by basename-before-first-dot
    (the sample key) with the extension naming the modality — the
    (key, ext) pair here is exactly that contract.

    Scale: binaryFile is a standard FileScan (partition pruning,
    driver never touches blobs); parsing is Arrow-batched
    mapInPandas. Shards are sized by the writer (~100 MB-1 GB in
    production) so one archive per task is the right granularity —
    the same reason WebDataset exists for torch DataLoaders."""
    import os

    bf = spark.read.format("binaryFile").load(os.path.join(path, "*.tar"))

    def parse(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = {
                "shard": [], "member_name": [], "key": [], "ext": [],
                "n_bytes": [], "payload_md5": [],
            }
            for shard_path, blob in zip(pdf["path"], pdf["content"]):
                shard = os.path.basename(shard_path)
                for name, data in parse_tar(bytes(blob)):
                    base = os.path.basename(name)
                    key, _, ext = base.partition(".")
                    rows["shard"].append(shard)
                    rows["member_name"].append(name)
                    rows["key"].append(key)
                    rows["ext"].append(ext)
                    rows["n_bytes"].append(len(data))
                    rows["payload_md5"].append(hashlib.md5(data).hexdigest())
            yield pd.DataFrame(rows)

    return bf.select("path", "content").mapInPandas(
        parse,
        "shard string, member_name string, key string, ext string, "
        "n_bytes long, payload_md5 string",
    )


@query(
    "mm_tar_member_index",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_WDS_SHARDS} AS INT) AS shard_id, doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents),
    o AS (
      SELECT shard_id, doc_id, n_bytes,
             COALESCE(SUM(512 + CAST(CEIL(n_bytes / 512.0) AS BIGINT) * 512)
                        OVER (PARTITION BY shard_id ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS hdr_offset
      FROM m)
    SELECT shard_id, doc_id, doc_id || '.txt' AS member_name, n_bytes,
           CAST(hdr_offset AS BIGINT) AS hdr_offset,
           CAST(hdr_offset + 512 AS BIGINT) AS data_offset
    FROM o
    """,
)
def mm_tar_member_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-access index for the WebDataset shards: the byte offset
    of every member's header and payload inside its USTAR archive,
    computed from tar arithmetic alone (512 B header + data padded to
    512 per member, members in doc_id order — `build_tar`'s layout).
    This is the `.idx` sidecar real WebDataset/tarp tooling ships so
    a DataLoader can seek straight to sample k without streaming the
    shard; `tests` verify the arithmetic against tarfile's own
    member.offset/offset_data on real archives.

    Scale: one windowed prefix-sum per shard partition — the same
    single shuffle the writer itself pays, no Python, no archive
    bytes touched (the index derives from metadata, so it can be
    (re)built without reading a single tar from object storage)."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _WDS_SHARDS).cast("int").alias("shard_id"),
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
    )
    entry = F.lit(512) + F.ceil(F.col("n_bytes") / 512.0).cast("long") * 512
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "shard_id",
        "doc_id",
        F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("member_name"),
        "n_bytes",
        F.coalesce(F.sum(entry).over(w), F.lit(0)).cast("long").alias("hdr_offset"),
        (F.coalesce(F.sum(entry).over(w), F.lit(0)) + 512).cast("long").alias(
            "data_offset"
        ),
    )


# ------------------------------------------------- curriculum interleave ----


@query(
    "llm_curriculum_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS src_rank
      FROM documents)
    SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
           CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source) AS BIGINT)
             AS global_pos
    FROM r
    """,
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering with source interleave: rank each source's
    documents easy→hard (n_chars as the difficulty proxy; swap in any
    scored column), then emit the GLOBAL training order that walks
    rank 1 of every source, then rank 2, ... — the round-robin
    interleave that keeps a training run from consuming an entire
    source (or an entire difficulty band) contiguously. Mixture
    sampling (q_dataset_mixture / q_temperature_mixture) decides HOW
    MUCH of each source to take; this decides the ORDER the samples
    arrive in.

    Scale: the per-source rank is an ordinary partitioned window (no
    global sort), and the interleave position is `data.global_prefix`
    over the composite key (src_rank, source): a range-sorted
    two-pass running count whose only SinglePartition stage sees one
    row per range partition — never the corpus. A naive ROW_NUMBER()
    OVER (ORDER BY ...) here funnels 100 TB through one task."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    ranked = d.withColumn(
        "src_rank",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("long"),
    ).drop("n_chars")
    return global_prefix(ranked, ["src_rank", "source"]).select(
        "doc_id", "source", "src_rank", F.col("cum").alias("global_pos")
    )


# ------------------------------------------------- GPT-style chunk manifest ----

_SEQ_LEN = 2048  # tokens per packed training sequence


@query(
    "llm_chunk_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
    o AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM t),
    c AS (
      SELECT doc_id, n, st,
             unnest(range(CAST(st // {_SEQ_LEN} AS BIGINT),
                          CAST((st + n - 1) // {_SEQ_LEN} + 1 AS BIGINT)))
               AS chunk_id
      FROM o)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(GREATEST(st, chunk_id * {_SEQ_LEN}) - st AS BIGINT)
             AS tok_start_in_doc,
           CAST(LEAST(st + n, (chunk_id + 1) * {_SEQ_LEN})
                - GREATEST(st, chunk_id * {_SEQ_LEN}) AS BIGINT)
             AS n_tok_in_chunk,
           st = GREATEST(st, chunk_id * {_SEQ_LEN}) AS is_doc_start
    FROM c
    """,
)
def llm_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk manifest: documents are laid out
    end-to-end in doc_id order and cut into fixed {_SEQ_LEN}-token
    training sequences, documents SPLITTING across sequence boundaries
    — one row per (doc, chunk) overlap with the in-document token
    range, exactly what a data loader consumes to assemble sequence k
    without materializing the packed corpus. `text_pack_sequences` is
    the no-split per-shard bin view (occupancy accounting); this is
    the split-across-boundaries layout itself.

    Scale: the global token offset is `data.global_prefix` weighted by
    each doc's token count: a range-sorted two-pass running sum whose
    only SinglePartition stage sees one row per range partition — a
    naive SUM() OVER (ORDER BY doc_id) funnels the corpus through one
    task. Chunk rows come from a bounded per-doc explode
    (ceil(n/{_SEQ_LEN}) + 1 rows). Everything downstream is integer
    arithmetic, so the whole layout is oracle-exact; at 100 TB the
    same manifest shards by floor(chunk_id / chunks_per_shard) into
    independent writer tasks."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
    )
    spans = (
        global_prefix(d, ["doc_id"], weight="n")
        .select("doc_id", "n", (F.col("cum") - F.col("n")).alias("st"))
        .select(
            "doc_id",
            "n",
            "st",
            F.explode(
                F.sequence(
                    (F.col("st") / _SEQ_LEN).cast("long"),
                    ((F.col("st") + F.col("n") - 1) / _SEQ_LEN).cast("long"),
                )
            ).alias("chunk_id"),
        )
    )
    chunk_start = F.greatest(F.col("st"), F.col("chunk_id") * _SEQ_LEN)
    chunk_end = F.least(
        F.col("st") + F.col("n"), (F.col("chunk_id") + 1) * _SEQ_LEN
    )
    return spans.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (chunk_start - F.col("st")).cast("long").alias("tok_start_in_doc"),
        (chunk_end - chunk_start).cast("long").alias("n_tok_in_chunk"),
        (F.col("st") == chunk_start).alias("is_doc_start"),
    )
