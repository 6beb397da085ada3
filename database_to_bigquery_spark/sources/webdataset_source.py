"""WebDataset tar shards as a first-class Spark data source.

Spark 4's Python DataSource API (`pyspark.sql.datasource`) lets a
format plug into the planner properly — ``spark.read.format(
"webdataset").load(dir)`` — instead of every caller hand-composing
the binaryFile + mapInPandas pipeline (`operators/training_prep.py::
read_webdataset`, which remains the no-registration route AND the
object-store route: binaryFile reads bytes through Hadoop's
FileSystem, so it works on s3a://-style paths where this source's
member-streaming ``tarfile.open`` needs a locally-mounted file). What
the API buys over the hand-composed form:

  * **partition planning is explicit**: one InputPartition per .tar
    shard, planned driver-side from directory metadata only (no blob
    is read at plan time), so a 10 000-shard corpus fans out to
    10 000 tasks with per-task archive locality — the exact task
    granularity WebDataset's writer sized the shards for,
  * **schema is declared once** by the source, not re-typed per call,
  * the reader **streams members** through ``tarfile`` member-at-a-
    time per task — peak memory is one member, not one shard.

Every reader and writer opens archive bytes with local Python IO, so
each rejects a non-``file:`` URI path in its constructor (``file:``
URIs are normalized to plain paths); listing and the commit protocol
(rename/delete) are plain ``os`` calls.

Commit protocol: executors stage to ``<dir>/.staging/`` under a
task-attempt-unique name (retries and speculative attempts never
collide), the driver renames to committed names (``part-*.tar`` /
``shard-b*-p*.tar``) at commit. Readers list only non-hidden
``*.tar`` directly under the directory, so in-flight or orphaned
staging shards are never visible as data and the stream reader's
sorted-count offset model only ever sees committed names.

The member schema matches ``read_webdataset`` (WebDataset convention:
sample key = basename before the first dot, extension names the
modality) plus the raw payload, so downstream decode UDFs can consume
either route interchangeably.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

_SCHEMA = (
    "shard string, member_name string, key string, ext string, "
    "n_bytes long, payload binary"
)

_STAGING_DIR = ".staging"


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _require_local(path: str | None, what: str) -> str:
    """The local path a reader/writer opens: ``file:`` URIs are
    normalized, other schemes rejected with the supported alternative
    named."""
    if not path:
        raise ValueError(f"webdataset {what} requires a path")
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    if re.match(r"[a-zA-Z][a-zA-Z0-9+.-]*://", path):
        raise ValueError(
            f"webdataset {what} opens archive bytes with local Python IO; "
            f"for object-store paths like {path!r} use the binaryFile-based "
            "operators.training_prep.read_webdataset / write via a "
            "foreachBatch committer instead"
        )
    return path


def _list_tars(path: str) -> list[str]:
    """Committed ``*.tar`` paths directly under ``path``, sorted. Names
    starting with ``.`` or ``_`` are never data (Hadoop's
    FileInputFormat rule), so in-flight staging shards stay invisible."""
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".tar") and not f.startswith((".", "_"))
    ]


def _read_members(path: str):
    """Executor-side: stream ONE archive member-at-a-time. tarfile in
    "r:" mode seeks through the file; memory is one member."""
    import tarfile

    shard = os.path.basename(path)
    with tarfile.open(path, mode="r:") as tf:
        for ti in tf:
            if not ti.isfile():
                continue
            f = tf.extractfile(ti)
            data = f.read() if f is not None else b""
            key, _, ext = os.path.basename(ti.name).partition(".")
            yield (shard, ti.name, key, ext, len(data), data)


def _drop_staging(path: str) -> None:
    shutil.rmtree(os.path.join(path, _STAGING_DIR), ignore_errors=True)


class WebDatasetDataSource(DataSource):
    """``spark.read.format("webdataset").load("/path/to/shards")``.

    Options:
      * ``path`` — directory containing ``*.tar`` shards (or a single
        shard file).
    """

    @classmethod
    def name(cls) -> str:
        return "webdataset"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> "WebDatasetReader":
        return WebDatasetReader(self.options)

    def streamReader(self, schema) -> "WebDatasetStreamReader":
        return WebDatasetStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "WebDatasetBatchWriter":
        return WebDatasetBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "WebDatasetStreamWriter":
        return WebDatasetStreamWriter(self.options)


class WebDatasetReader(DataSourceReader):
    def __init__(self, options):
        self._path = _require_local(options.get("path"), "reader")

    def partitions(self):
        # driver-side METADATA listing only: shard paths, never bytes.
        shards = _list_tars(self._path) if os.path.isdir(self._path) else [self._path]
        if not shards:
            raise ValueError(f"no .tar shards under {self._path}")
        return [_ShardPartition(p) for p in shards]

    def read(self, partition: _ShardPartition):
        return _read_members(partition.path)


class WebDatasetStreamReader(DataSourceStreamReader):
    """Micro-batch reader over an APPEND-ONLY shard directory.

    Offset model: shards are planned in sorted-name order and the
    offset is ``{"n": <count of shards already processed>}`` — valid
    because a WebDataset landing zone is append-only with
    monotonically named shards (the writer's `shard-%06d.tar`
    contract; a renamed or deleted old shard would violate the
    landing-zone contract, not this reader). That makes the offset a
    total order, replay between two offsets deterministic, and the
    checkpoint tiny — exactly the properties Structured Streaming
    needs for end-to-end exactly-once into an idempotent sink.
    Hidden-name filtering in ``_list_tars`` keeps in-flight staging
    shards out of the count, so the offset only ever advances over
    committed shards.

    Each micro-batch fans out one InputPartition per NEW shard; the
    member streaming is the batch reader's code path.
    """

    def __init__(self, options):
        self._path = _require_local(options.get("path"), "stream reader")

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": len(_list_tars(self._path))}

    def partitions(self, start: dict, end: dict):
        new = _list_tars(self._path)[start["n"] : end["n"]]
        # an empty batch still needs >=1 (empty) partition in some
        # planner paths; Spark handles [] fine for microbatches, so
        # return the real list.
        return [_ShardPartition(p) for p in new]

    def read(self, partition: _ShardPartition):
        return _read_members(partition.path)

    def commit(self, end: dict) -> None:
        # offsets are directory positions; nothing external to clean up
        pass


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_path: str
    partition_id: int
    n_members: int


def _write_members_tar(rows, out_dir: str, partition_id: int) -> _ShardCommit:
    """Executor-side: drain one partition's (key, ext, payload) rows
    into a deterministic USTAR blob staged under
    ``<dir>/.staging/p<pid>-a<taskAttempt>.tar``; the driver-side
    commit renames it to its final shard name. The attempt id in the
    name means a retried or speculative task never clobbers another
    attempt's in-flight file, and the hidden ``.staging`` dir keeps
    every reader (batch and stream) blind to uncommitted bytes.
    Members sort by (key, ext) so a shard's bytes are a pure function
    of its row set regardless of upstream ordering."""
    from pyspark import TaskContext

    from ..operators.training_prep import build_tar

    attempt = TaskContext.get().taskAttemptId()
    members = sorted(
        ((f"{r['key']}.{r['ext']}", bytes(r["payload"])) for r in rows),
        key=lambda m: m[0],
    )
    staging = os.path.join(out_dir, _STAGING_DIR)
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, f"p{partition_id:05d}-a{attempt}.tar")
    with open(tmp, "wb") as f:
        f.write(build_tar(members))
    return _ShardCommit(tmp_path=tmp, partition_id=partition_id, n_members=len(members))


class WebDatasetBatchWriter(DataSourceWriter):
    """``df.write.format("webdataset").mode(...).save(dir)`` — one
    shard per partition, staged under ``.staging/`` then renamed so a
    failed job leaves no partial shard visible (the temp-stage +
    driver-commit pattern every atomic committer uses). In overwrite
    mode the commit also deletes every previously-committed ``*.tar``
    this job did not write, so a re-run with fewer partitions cannot
    leave stale shards mixed into the corpus."""

    def __init__(self, options, overwrite: bool):
        self._path = _require_local(options.get("path"), "writer")
        self._overwrite = overwrite

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        return _write_members_tar(iterator, self._path, pid)

    def commit(self, messages):
        written = set()
        for m in messages:
            if m is None:
                continue
            final = os.path.join(self._path, f"part-{m.partition_id:05d}.tar")
            os.replace(m.tmp_path, final)
            written.add(final)
        if self._overwrite:
            for stale in _list_tars(self._path):
                if stale not in written:
                    os.remove(stale)
        # drop the staging dir: committed files are out, anything left
        # is an orphan from a failed/speculative attempt.
        _drop_staging(self._path)

    def abort(self, messages):
        _drop_staging(self._path)


class WebDatasetStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("webdataset")`` — each micro-batch's
    partitions land as ``shard-b<batch>-p<partition>.tar``. The final
    name embeds the batch id and the rename happens at COMMIT time, so
    a replayed micro-batch (failure before commit) overwrites its own
    shards instead of duplicating them — idempotent exactly-once on
    top of the checkpointed source offsets, the same contract the
    repo's foreachBatch parquet sinks test. Staging files live in the
    hidden ``.staging`` dir with attempt-unique names and the dir is
    cleared at each commit — safe because micro-batch commits are
    serialized (batch N commits before batch N+1's tasks write)."""

    def __init__(self, options):
        self._path = _require_local(options.get("path"), "stream writer")

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        return _write_members_tar(iterator, self._path, pid)

    def commit(self, messages, batchId):
        for m in messages:
            if m is None:
                continue
            final = f"shard-b{batchId:06d}-p{m.partition_id:05d}.tar"
            os.replace(m.tmp_path, os.path.join(self._path, final))
        _drop_staging(self._path)

    def abort(self, messages, batchId):
        _drop_staging(self._path)
