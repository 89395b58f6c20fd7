"""``spark.read.format("randgen")`` — a Python Data Source (Spark 4 API)
that GENERATES rows instead of reading them.

This is the reference's capability (a registrable random-data extension,
``src/lib.rs:8-10``) re-expressed as the other idiomatic Spark surface:
where ``add_udfs`` mirrors the reference's scalar-UDF registration, this
mirrors its *source* role (the tests' ``FROM generate_series(...)`` +
randgen projection, ``src/randgen/int64_uniform.rs:170``) as a true
table provider::

    spark.dataSource.register(RandgenDataSource)
    df = (spark.read.format("randgen")
          .option("rows", 1_000_000).option("partitions", 32)
          .option("lo", 1).option("hi", 100).option("seed", 42).load())

Scale design:

* **Planning is metadata-only** — ``partitions()`` returns N split
  descriptors; no data touches the driver.
* **Each split generates independently** from ``(seed, partition_id)``
  via ``numpy.random.default_rng`` — embarrassingly parallel,
  deterministic under retries/speculation (same split ⇒ same rows),
  exactly the per-partition seeding discipline of ``functions.seeded``.
* **Arrow-vectorized hand-off**: ``read()`` yields pyarrow
  RecordBatches, so rows enter the JVM in columnar batches (the Data
  Source API's fast path), mirroring the reference's per-batch Arrow
  kernels (``int64_uniform.rs:106-153``).
* Unseeded (``seed`` absent) the source is volatile like the
  reference's ``Volatility::Volatile`` — every scan draws fresh data.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

_BATCH_ROWS = 65_536


def _splitmix64(ids, seed: int, stream: int):
    """Vectorized splitmix64 of (seed, stream, id) — a deterministic
    uint64 per row, recomputable on any executor with no RNG state."""
    import numpy as np

    with np.errstate(over="ignore"):  # uint64 wraparound IS the hash
        x = (
            ids.astype(np.uint64)
            + np.uint64(0x9E3779B97F4A7C15) * np.uint64(1 + stream)
            + np.uint64(seed & (2**64 - 1))
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class _Split(InputPartition):
    def __init__(self, index: int, start: int, end: int):
        self.index = index
        self.start = start
        self.end = end


class RandgenReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 8))
        self.lo = int(options.get("lo", 0))
        self.hi = int(options.get("hi", 100))
        seed = options.get("seed")
        self.seed = None if seed is None else int(seed)
        if self.lo > self.hi:
            raise ValueError(f"randgen: lo ({self.lo}) > hi ({self.hi})")
        if self.rows < 0:
            raise ValueError(f"randgen: rows ({self.rows}) must be >= 0")
        # id-range pruned by pushFilters (generation-time predicate
        # pushdown: rows outside the range are never generated)
        self.row_lo = 0
        self.row_hi = self.rows

    def pushFilters(self, filters):
        """Generation-time filter pushdown on the ``id`` column: a
        conjunctive range predicate shrinks [row_lo, row_hi) so pruned
        rows are never generated at all — at 10^9-row scale the
        difference between a metadata-only scan and minutes of NumPy.

        Sound ONLY for volatile (unseeded) reads: seeded splits draw
        their x/u values from sequential per-split RNG streams, so
        changing the generated range would change surviving rows'
        values — seeded mode therefore declines every filter and lets
        Spark evaluate them post-scan (correct, just unpruned).  The
        splitmix64 pure-function-of-id scheme the STREAM reader uses
        (`_splitmix` above) is the upgrade path if seeded pruning is
        ever needed."""
        if self.seed is not None:
            yield from filters
            return
        for f in filters:
            v = getattr(f, "value", None)
            if getattr(f, "attribute", None) == ("id",) and isinstance(
                v, int
            ) and not isinstance(v, bool):
                if isinstance(f, GreaterThan):
                    self.row_lo = max(self.row_lo, v + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.row_lo = max(self.row_lo, v)
                    continue
                if isinstance(f, LessThan):
                    self.row_hi = min(self.row_hi, v)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.row_hi = min(self.row_hi, v + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.row_lo = max(self.row_lo, v)
                    self.row_hi = min(self.row_hi, v + 1)
                    continue
            yield f  # unsupported: Spark re-applies it post-scan

    def partitions(self):
        # invariants: 0 <= row_lo (only ever raised) and row_hi <= rows
        # (only ever lowered), so no clamping is needed here
        lo, hi = self.row_lo, self.row_hi
        count = hi - lo
        if count <= 0:
            # one empty split: the ceil-division below would build
            # range(lo, lo, 0), and an EMPTY list makes Spark call
            # read(None) with no partition object at all
            return [_Split(0, 0, 0)]
        per = -(-count // self.n_parts)  # ceil
        return [
            _Split(i, start, min(start + per, hi))
            for i, start in enumerate(range(lo, hi, per))
        ]

    def read(self, split: _Split):
        import numpy as np
        import pyarrow as pa

        if self.seed is None:
            rng = np.random.default_rng()
        else:
            # independent, reproducible stream per split
            rng = np.random.default_rng([self.seed, split.index])
        for lo in range(split.start, split.end, _BATCH_ROWS):
            n = min(_BATCH_ROWS, split.end - lo)
            ids = np.arange(lo, lo + n, dtype=np.int64)
            x = rng.integers(self.lo, self.hi, size=n, endpoint=True, dtype=np.int64)
            u = rng.random(n)
            yield pa.record_batch(
                [pa.array(ids), pa.array(x), pa.array(u)], names=["id", "x", "u"]
            )


class RandgenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "randgen"

    def schema(self) -> str:
        return "id bigint, x bigint, u double"

    def reader(self, schema) -> RandgenReader:
        return RandgenReader(self.options)

    def streamReader(self, schema) -> "RandgenStreamReader":
        return RandgenStreamReader(self.options)


def register_datasources(spark) -> None:
    """Idempotently register the randgen table provider and the
    pyparquet two-phase-commit sink."""
    # RandgenReader implements pushFilters(); Spark HARD-ERRORS any
    # scan of such a reader while this conf is off (rather than
    # ignoring the hook), so enabling it here is part of registration
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Spark refuses a name that the ACTIVE session already resolves, so
    # a session from ``newSession()`` could not register the names its
    # parent holds; register with ``spark`` active, then restore.
    sessions = spark._jvm.SparkSession
    active = sessions.getActiveSession()
    sessions.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(RandgenDataSource)
        spark.dataSource.register(PyParquetSink)
    finally:
        if active.isDefined():
            sessions.setActiveSession(active.get())
        else:
            sessions.clearActiveSession()


class RandgenStreamReader(DataSourceStreamReader):
    """Micro-batch randgen stream: offsets are row positions; each
    trigger advances by ``rowsPerBatch`` until ``maxRows`` (bounded, so
    test harnesses can drain it — unlike the rate source, offsets STOP
    advancing at the cap).  Every row's values are a pure function of
    ``(seed, row id)`` — independent of how offset ranges are split
    into batches or partitions — so replaying ANY offset range after
    failure or recovery regenerates identical rows: the replayable-
    source contract Structured Streaming asks for.
    """

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rowsperbatch", 1000))
        self.max_rows = int(options.get("maxrows", 10_000))
        self.n_parts = int(options.get("partitions", 4))
        self.lo = int(options.get("lo", 0))
        self.hi = int(options.get("hi", 100))
        self.seed = int(options.get("seed", 0))
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._latest = min(self._latest + self.rows_per_batch, self.max_rows)
        return {"row": self._latest}

    def partitions(self, start: dict, end: dict):
        # Checkpoint recovery: a fresh reader starts with _latest=0 while
        # Spark replays offsets from its log.  Ratchet the high-water
        # mark from every offset Spark hands back so latestOffset() lags
        # the log for at most the one batch Spark plans BEFORE the first
        # partitions() call (the Python stream API has no restore hook
        # that runs earlier).  That first post-restart batch can
        # therefore have end < start (planned empty here), and rows
        # between the logged end and the committed start may be planned
        # again afterwards: recovery is AT-LEAST-ONCE, with replays
        # value-identical because generation is a pure function of
        # (seed, row range).  Within a run (no restart) offsets are
        # strictly monotone and delivery is exactly-once.
        self._latest = max(self._latest, start["row"], end["row"])
        lo, hi = start["row"], end["row"]
        per = max(1, -(-(hi - lo) // self.n_parts))
        return [
            _Split(i, s, min(s + per, hi))
            for i, s in enumerate(range(lo, hi, per))
        ]

    def read(self, split: _Split):
        import numpy as np
        import pyarrow as pa

        n = split.end - split.start
        if n <= 0:
            return
        # values are a pure function of (seed, ROW id) — not of the
        # split/batch boundaries — so a row re-planned after checkpoint
        # recovery in a different offset range regenerates the IDENTICAL
        # values (the replayable-source contract; split-start-keyed RNG
        # streams would break it whenever recovery re-partitions a range)
        ids = np.arange(split.start, split.end, dtype=np.int64)
        h1 = _splitmix64(ids, self.seed, 1)
        h2 = _splitmix64(ids, self.seed, 2)
        span = np.uint64(self.hi - self.lo + 1)
        x = (h1 % span).astype(np.int64) + self.lo
        u = (h2 >> np.uint64(11)).astype(np.float64) / float(1 << 53)  # [0, 1)
        yield pa.record_batch(
            [pa.array(ids), pa.array(x), pa.array(u)], names=["id", "x", "u"]
        )

    def commit(self, end: dict) -> None:
        pass


class _ParquetCommit(WriterCommitMessage):
    def __init__(self, temp_file: str, n_rows: int):
        self.temp_file = temp_file
        self.n_rows = n_rows


class PyParquetWriter(DataSourceArrowWriter):
    """Arrow-batch parquet SINK with the two-phase commit protocol:

    * each task streams its RecordBatches into a ``_temporary/`` file
      (one sequential parquet writer per task — no buffering of the
      whole partition) and returns the path as its commit message;
    * ``commit()`` runs on the driver only after EVERY task succeeded
      and atomically renames the temp files into the target directory —
      a failed/speculative task's orphan never becomes visible;
    * ``abort()`` removes the temp directory.

    This is the job-commit discipline every distributed sink needs
    (mirror of Spark's FileCommitProtocol, here in pure Python).
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyparquet sink requires a path")

    def write(self, iterator):
        import os
        import uuid

        import pyarrow.parquet as pq

        tmp_dir = os.path.join(self.path, "_temporary")
        os.makedirs(tmp_dir, exist_ok=True)
        fname = os.path.join(tmp_dir, f"part-{uuid.uuid4().hex}.parquet")
        writer = None
        n = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(fname, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:  # empty partition: nothing to commit
            return _ParquetCommit("", 0)
        return _ParquetCommit(fname, n)

    def commit(self, messages):
        import os
        import shutil

        os.makedirs(self.path, exist_ok=True)
        total = 0
        for i, m in enumerate(messages):
            if m is None or not m.temp_file:
                continue
            final = os.path.join(self.path, f"part-{i:05d}.parquet")
            os.replace(m.temp_file, final)
            total += m.n_rows
        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(str(total))

    def abort(self, messages):
        import shutil

        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)


class PyParquetSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pyparquet"

    def writer(self, schema, overwrite: bool):
        import shutil

        if overwrite:
            shutil.rmtree(self.options.get("path", ""), ignore_errors=True)
        return PyParquetWriter(self.options)
