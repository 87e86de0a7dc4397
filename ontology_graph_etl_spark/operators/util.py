"""Shared operator plumbing, including the stored-artifact layer every
store lifecycle uses (Sidecar, atomic_append_subdir, swap_in_staged)."""

from __future__ import annotations

import json
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, TimestampNTZType, TimestampType


def epoch_units(c: Column, dt: DataType) -> tuple[Column, int]:
    """ANSI-safe conversion of a point-in-time (or already-numeric)
    column to integral units: Spark 4's ANSI type checker rejects direct
    timestamp->numeric casts, so temporal columns must go through
    unix_micros/unix_date. Returns ``(long_column, units_per_second)``:
    timestamps convert to microseconds (sub-second exact), dates and
    numerics to seconds. TIMESTAMP_NTZ is reinterpreted in the session
    zone (pinned UTC by session.get_spark), matching DuckDB's naive
    timestamp arithmetic.
    """
    if isinstance(dt, TimestampNTZType):
        c, dt = c.cast("timestamp"), TimestampType()
    if isinstance(dt, TimestampType):
        return F.unix_micros(c), 1_000_000
    if isinstance(dt, DateType):
        return F.unix_date(c).cast("long") * 86400, 1
    return c.cast("long"), 1


def epoch_double(c: Column, dt: DataType) -> Column:
    """Fractional epoch seconds as DOUBLE — the ANSI-safe spelling of the
    old ``cast(ts as double)`` (same arithmetic: micros / 1e6), used for
    gap/duration math that must match a DuckDB ``epoch()`` oracle."""
    units, per_s = epoch_units(c, dt)
    if per_s == 1_000_000:
        return units / F.lit(1_000_000.0)
    return units.cast("double")


def broadcast_if_small(df: DataFrame, max_rows: int = 1_000_000) -> DataFrame:
    """Broadcast hint gated on MEASURED cardinality — the guard for the
    "domain-sized statistics frame" join-back pattern (per-group
    medians, degree tables, stratum cutoffs). An unconditional
    ``F.broadcast()`` on such a frame is a hint Catalyst cannot
    decline: when the group domain turns out to scale with the corpus
    (per-user keys at 100×), the forced hint becomes a driver OOM
    instead of a graceful shuffle join. This helper persists the frame
    (it is about to be consumed at least twice — once counted here,
    once joined), counts it, and hints only when the count is at or
    under ``max_rows``; above the threshold the plain materialized
    frame is returned and Catalyst/AQE plan a shuffle join as usual.
    Materialization is ``localCheckpoint`` — NOT ``persist``: a cached
    frame pins a CacheManager entry until an explicit unpersist, and
    in the stated use sites (per-micro-batch calls in a long-lived
    ingest loop) that was an unbounded executor-storage leak (ADVICE
    r15); checkpoint blocks are reclaimed by the ContextCleaner as
    soon as the frame is unreferenced, so the gating count still costs
    no extra corpus scan and nothing outlives the batch. The default
    threshold (1M rows of key+stat columns, low hundreds of MB at
    worst) sits well under executor memory while still covering every
    legitimate "domain-sized" frame; callers with wider rows pass a
    lower cap — the same contract as textops' ``driver_vocab_max``
    device."""
    df = df.localCheckpoint()
    if df.count() <= max_rows:
        return F.broadcast(df)
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    only when the input has FEWER partitions.

    Why: a small parquet file arrives as one split (maxPartitionBytes),
    so CPU-heavy per-row work downstream (shingling, n-gram assembly,
    signature UDFs) would run on one core no matter how many are idle —
    measured 4.5 s → 0.8 s for q70 at sf0.1 on local[32]. At real scale
    input splits outnumber cores and this is a no-op; the guard keeps
    the extra shuffle from ever touching a well-partitioned input.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def hadoop_path_and_fs(spark, path: str):
    """Resolve ``path`` through the Hadoop FileSystem API so sidecar
    read/write works on any Spark-supported filesystem (local, HDFS,
    s3a, abfs) — not just local paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return hpath, fs


@dataclass(frozen=True)
class Sidecar:
    """A stored artifact's parameter sidecar: one JSON file inside the
    artifact directory, so the parameters travel with the data through
    copies and renames. One frozen spec per store — ``filename`` (an
    underscore prefix keeps Spark's parquet listing away from it),
    the ``keys`` a reader requires, the store's name (``what``) and
    its rebuild ``hint`` — and THE one implementation of sidecar I/O
    and append validation across every stored lifecycle."""

    filename: str
    keys: tuple[str, ...]
    what: str
    hint: str

    def _locate(self, spark, path: str):
        return hadoop_path_and_fs(
            spark, f"{path.rstrip('/')}/{self.filename}"
        )

    def write(self, spark, path: str, params: dict) -> None:
        """(Over)write the sidecar as sorted-key JSON."""
        hpath, fs = self._locate(spark, path)
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(json.dumps(params, sort_keys=True).encode()))
        finally:
            out.close()

    def read(self, spark, path: str) -> dict:
        """Read and validate the sidecar. Raises ValueError with the
        store's rebuild hint when it is absent or missing keys."""
        hpath, fs = self._locate(spark, path)
        if not fs.exists(hpath):
            raise ValueError(
                f"{self.what} at {path} has no {self.filename} sidecar "
                f"— {self.hint}"
            )
        stream = fs.open(hpath)
        try:
            raw = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        params = json.loads(raw.decode("utf-8"))
        missing = set(self.keys) - set(params)
        if missing:
            raise ValueError(
                f"{self.what} sidecar at {path} is missing keys: "
                f"{sorted(missing)}"
            )
        return params

    def check_append(self, spark, path: str, params: dict) -> None:
        """Refuse an append whose parameters differ from the stored
        ones: rows built under other parameters (permutation
        constants, register width, interpolation weight) poison the
        store silently, so a mismatch fails loudly instead."""
        stored = self.read(spark, path)
        got = {k: stored[k] for k in self.keys}
        if got != params:
            raise ValueError(
                f"{self.what} at {path} was built with {got}; "
                f"refusing to append rows built with {params}"
            )


def atomic_append_subdir(df: DataFrame, base: str, what: str) -> None:
    """Crash-atomic append into a parquet store whose readers list
    RECURSIVELY (``spark.read.option("recursiveFileLookup", "true")``):
    the batch is written to a staging directory OUTSIDE the store,
    then committed with ONE filesystem rename into the store as a
    ``batch-*`` subdirectory. A job that dies mid-write leaves only an
    orphaned ``.staging-*`` dir the store never reads — essential for
    ADDITIVE stores (count tables, histogram bins), where a silently
    half-committed batch skews every later read; for idempotent
    membership stores a flat append merely under-screens until retry.
    Shared by the LM count store, the binned cutoff store and the URL
    index."""
    from uuid import uuid4

    spark = df.sparkSession
    b = base.rstrip("/")
    tag = f"batch-{uuid4().hex}"
    staged = f"{b}.staging-{tag}"
    df.write.mode("overwrite").parquet(staged)
    new, fs = hadoop_path_and_fs(spark, staged)
    dest, _ = hadoop_path_and_fs(spark, f"{b}/{tag}")
    if not fs.rename(new, dest):
        fs.delete(new, True)
        raise IOError(f"{what}: could not commit staged batch into {b}")


def swap_in_staged(spark, path: str, what: str) -> None:
    """Put a fully written ``<path>.compact`` in place of ``<path>`` —
    THE staged swap behind every store rewrite (the compactions and
    the CDC apply). The caller writes the new generation to
    ``<path>.compact``, sidecar included, so the staged artifact is
    complete BEFORE any swap; this function then renames ``path`` →
    ``<path>.old`` and staged → ``path`` and deletes the old
    generation. The live directory is never written in place.

    Crash exposure: a failure before the first rename leaves the live
    store untouched (a stale ``.compact`` is overwritten by the next
    attempt); between the two renames ``path`` briefly does not exist
    — concurrent readers fail safe (no sidecar) and BOTH complete
    generations remain on disk (rename ``<path>.old`` back, or
    ``<path>.compact`` in, to recover); after the second rename the
    new generation is live and ``<path>.old`` is garbage. A failed
    swap-in (a missing staged generation makes the local Hadoop
    filesystem RAISE rather than return False) restores the old
    generation to ``path`` before raising IOError. On object stores
    without atomic rename (raw S3) front this with a committer, as
    for any rename-based swap.

    SINGLE WRITER REQUIRED: crash-atomicity covers crashes and
    concurrent readers, not concurrent writers. An append to ``path``
    between the caller's staged read and the first rename writes into
    what becomes ``<path>.old`` and is deleted after the swap — that
    batch is lost silently. Serialize every merge and rewrite of a
    store through one writer."""
    base = path.rstrip("/")
    staged = base + ".compact"
    cur, fs = hadoop_path_and_fs(spark, base)
    new, _ = hadoop_path_and_fs(spark, staged)
    old, _ = hadoop_path_and_fs(spark, base + ".old")
    fs.delete(old, True)
    if not fs.rename(cur, old):
        raise IOError(f"{what}: could not stage out {base}")
    try:
        swapped, cause = fs.rename(new, cur), None
    except Py4JJavaError as err:  # e.g. FileNotFoundException
        swapped, cause = False, err
    if not swapped:
        fs.rename(old, cur)  # restore the previous generation
        raise IOError(
            f"{what}: could not swap {staged} in for {base}; "
            "the previous generation was restored"
        ) from cause
    fs.delete(old, True)
