"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API):
the reference's document-feed ingestion surfaced as a first-class
`spark.read.format("legalfeed")` source instead of a driver-side loop.

Reference parity: fetch_legal_docs.py:32 iterates URLs sequentially
in one process; here the feed is split into `partitions` independent
splits, each read by its own task — the same change-of-shape as the
mapInPandas fetch stage (operators/ingest.py), but packaged as a
reusable source any query can `.read`:

    spark.dataSource.register(LegalFeedDataSource)
    df = (spark.read.format("legalfeed")
          .option("ndocs", 1000).option("partitions", 8).load())

The payload generator is deterministic (seeded by doc index), so
tests can assert exact content; a real deployment would replace
`_fake_fetch` with an HTTP call — the partitioning, schema, and
task-level isolation are the engine deliverable, exactly like the
stubbed multimodal codec (operators/multimodal.py).

At 100 TB: `partitions` controls read parallelism (one task per
split, no driver bottleneck); each task streams rows via a generator
(no per-partition materialization), and failures retry per-task, not
per-job.
"""

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


FEED_SCHEMA = (
    "doc_index bigint, url string, resource_type string, payload string"
)


def _fake_fetch(i: int) -> tuple:
    """Deterministic stand-in for the per-URL HTTP fetch."""
    kind = ("pdf", "html", "doc")[i % 3]
    url = f"https://fsc.example.et/files/doc{i}.{kind}"
    payload = f"content-{i:08d}-" + "x" * (i % 17)
    return (i, url, kind, payload)


class _FeedPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class LegalFeedReader(DataSourceReader):
    def __init__(self, options):
        self.ndocs = int(options.get("ndocs", 100))
        self.nparts = int(options.get("partitions", 4))

    def partitions(self):
        step = max(1, -(-self.ndocs // self.nparts))  # ceil div
        return [
            _FeedPartition(lo, min(lo + step, self.ndocs))
            for lo in range(0, self.ndocs, step)
        ]

    def read(self, partition: _FeedPartition):
        for i in range(partition.start, partition.end):
            yield _fake_fetch(i)


class LegalFeedStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor of the feed: the offset is simply the next doc
    index, so each microbatch drains up to `batchsize` new documents
    and `availableNow` terminates once `ndocs` is reached. Offsets are
    plain dicts checkpointed by the engine — restart-safe replay comes
    for free (readBetweenOffsets re-yields any committed range
    deterministically, which `_fake_fetch`'s seeding guarantees)."""

    def __init__(self, options):
        self.ndocs = int(options.get("ndocs", 100))
        self.batch = int(options.get("batchsize", 25))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        lo = int(start["index"])
        hi = min(lo + self.batch, self.ndocs)
        return iter([_fake_fetch(i) for i in range(lo, hi)]), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [_fake_fetch(i) for i in range(int(start["index"]), int(end["index"]))]
        )


class LegalFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "legalfeed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def reader(self, schema: StructType) -> LegalFeedReader:
        return LegalFeedReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> LegalFeedStreamReader:
        return LegalFeedStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "LegalFeedWriter":
        return LegalFeedWriter(self.options, overwrite)


class _PartCommit(WriterCommitMessage):
    """Per-task commit message: the part file the task staged and its
    row count — the two facts the driver-side commit needs."""

    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class LegalFeedWriter(DataSourceWriter):
    """Writer half of the custom Python DataSource (the reference's
    JSON doc sink, fetch_legal_docs.py:70-74, as a first-class
    `df.write.format("legalfeed")` target): each task streams its
    partition to ITS OWN JSONL part file (no coordination, no driver
    bottleneck — one file per task, the parquet-writer layout), then
    the driver-side commit() writes a _MANIFEST naming every part and
    its row count. The manifest is the transactional boundary: a
    reader that requires it sees either the whole write or none of it
    (task retries leave orphan parts, which the manifest excludes —
    the same recipe as sources/shards.py). abort() records the
    failure marker instead of half-published data.

    Write modes (the overwrite flag used to be ignored,
    which left stale part files from a previous write visible to
    glob-based readers and broke the 'manifest names exactly the
    staged parts' invariant on a second write): mode('overwrite')
    removes every pre-existing part-* file during the driver-side
    commit — after the new _MANIFEST lands the directory holds
    exactly the committed parts; mode('append') into a directory that
    already holds a committed write is rejected up front (appending
    would orphan the old manifest), while append into a fresh/empty
    target — the common first write — is allowed."""

    def __init__(self, options, overwrite: bool = False):
        import os

        self.path = options.get("path")
        if not self.path:
            raise ValueError("legalfeed writer requires .option('path', ...)")
        self.overwrite = overwrite
        if not overwrite and os.path.isdir(self.path):
            existing = [
                f
                for f in os.listdir(self.path)
                if f.startswith("part-") or f == "_MANIFEST"
            ]
            if existing:
                raise ValueError(
                    "legalfeed: append into a non-empty target would mix "
                    f"old and new part files ({len(existing)} found in "
                    f"{self.path}); use .mode('overwrite') or a fresh path"
                )

    def write(self, iterator):
        import json
        import os
        import uuid

        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        fname = f"part-{part:05d}-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, fname), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartCommit(fname, n)

    def commit(self, messages) -> None:
        import json
        import os

        parts = sorted(
            (
                {"file": m.filename, "n_rows": m.n_rows}
                for m in messages
                if m is not None
            ),
            key=lambda d: d["file"],
        )
        manifest = {
            "parts": parts,
            "total_rows": sum(p["n_rows"] for p in parts),
        }
        if self.overwrite:
            staged = {p["file"] for p in parts}
            for f in os.listdir(self.path):
                if f.startswith("part-") and f not in staged:
                    os.remove(os.path.join(self.path, f))
        with open(os.path.join(self.path, "_MANIFEST"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages) -> None:
        import os

        with open(os.path.join(self.path, "_ABORTED"), "w") as fh:
            fh.write("write aborted; parts are not committed\n")
