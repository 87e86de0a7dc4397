"""Batch–stream equivalence (SURVEY.md §5 item 4): the same transform
over the static ``events`` table and over ``readStream`` of the same
parquet yields identical end-of-stream results (availableNow trigger).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ontology_graph_etl_spark.io import load_table
from ontology_graph_etl_spark.streaming import windows


def _run_stream_to_memory(spark, stream_df, name: str):
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(name)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # the file stream source needs a *directory*; symlink the single
    # parquet file into one (testdata itself is read-only)
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = tmp_path_factory.mktemp("events_stream")
    os.symlink(path, stream_dir / "events.parquet")
    raw = spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(str(stream_dir))
    # apply the same ns→timestamp conversion load_table does
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def test_tumbling_agg_batch_stream_equivalence(spark, events_batch, events_stream):
    batch = windows.tumbling_counts(events_batch)
    streamed = _run_stream_to_memory(
        spark, windows.tumbling_counts(events_stream), "tumbling_mem"
    )
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(batch).count() == 0


def test_streaming_dedup_bounded_state(spark, events_batch, events_stream):
    """dropDuplicatesWithinWatermark on the stream ≡ dropDuplicates on the
    batch for bounded input (all data within the watermark horizon)."""
    deduped_stream = windows.dedup_events(
        events_stream, keys=("event_id",), watermark="365 days"
    ).groupBy().agg(F.count(F.lit(1)).alias("n"))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            deduped_stream.writeStream.format("memory")
            .queryName("dedup_mem")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = spark.table("dedup_mem").first()["n"]
    want = windows.dedup_events(events_batch, keys=("event_id",)).count()
    assert got == want


def test_session_window_stream_runs(spark, events_stream):
    """Streaming-native session windows (state-store path) produce rows
    under availableNow — the append-mode watermark-eviction path."""
    sess = windows.stream_session_counts(events_stream, gap="30 minutes")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            sess.writeStream.format("memory")
            .queryName("sess_mem")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    got = spark.table("sess_mem")
    assert got.count() > 0
    assert set(got.columns) == {"session_start", "session_end", "user_id", "n_events"}


def test_sessionize_matches_session_window_semantics(spark, events_batch):
    """The two session implementations agree on bounded data: same number
    of sessions per user (gaps-and-islands vs F.session_window)."""
    a = windows.sessionize(events_batch, gap_seconds=1800)
    b = (
        events_batch.groupBy(
            F.session_window(F.col("ts"), "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    per_user_a = a.groupBy("user_id").count()
    per_user_b = b.groupBy("user_id").count()
    assert per_user_a.exceptAll(per_user_b).count() == 0
    assert per_user_b.exceptAll(per_user_a).count() == 0


def test_stateful_running_totals_matches_batch(spark, events_batch, events_stream):
    """applyInPandasWithState custom operator: the last emitted state per
    user at end-of-stream equals the batch groupBy aggregate."""
    from ontology_graph_etl_spark.streaming.stateful import running_totals

    out = running_totals(events_stream.where(F.col("user_id").isNotNull()))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName("stateful_mem")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    got = spark.table("stateful_mem")
    # update-mode emits one row per key per micro-batch; the final state
    # per key is the max n_events row
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        got.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )
    want = (
        events_batch.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias(
                "total_value"
            ),
        )
    )
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


def _run_stream_to_memory_append(spark, stream_df, name: str):
    """Append-mode runner — stream-stream joins emit append-only."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(name)


def test_stream_stream_join_batch_equivalence(
    spark, events_batch, events_stream
):
    """event_correlation_join over two readStream sides (watermarked,
    time-bounded join state) ≡ the batch inner join at end-of-stream."""

    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        errors = df.where(F.col("event_type") == "error").select(
            "user_id", "ts", "event_id"
        )
        return clicks, errors

    out_cols = [
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("error_id"),
    ]
    bc, be = split(events_batch)
    batch = windows.event_correlation_join(bc, be).select(*out_cols)
    sc, se = split(events_stream)
    streamed = _run_stream_to_memory_append(
        spark,
        windows.event_correlation_join(sc, se).select(*out_cols),
        "sscorr_mem",
    )
    assert batch.count() > 0
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(batch).count() == 0


def test_streaming_ingest_dedup_foreachbatch(spark, sf_dir, tmp_path):
    """Continuous-ingest near-dup screening as a stream: documents
    arrive as micro-batch files; each batch is screened against the
    existing corpus via incremental_near_duplicates inside
    foreachBatch. The union of per-batch verdicts equals the one-shot
    batch screen of the same docs — the streaming path is the batch
    operator applied per micro-batch, no separate code path to drift."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.dedup import (
        incremental_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0).cache()
    incoming = docs.where(F.col("doc_id") % 3 == 0).cache()
    try:
        want = {
            (r.incoming_id, r.existing_id)
            for r in incremental_near_duplicates(
                corpus, incoming, "doc_id", "text", threshold=0.5
            ).collect()
        }

        in_dir = tmp_path / "incoming"
        in_dir.mkdir()
        # two micro-batch FILES (not Spark output dirs — the file stream
        # source lists plain files) so foreachBatch fires more than once
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i in range(2):
            pdf = (
                incoming.where(F.col("doc_id") % 2 == i)
                .toPandas()
            )
            pq.write_table(
                pa.Table.from_pandas(pdf), str(in_dir / f"b{i}.parquet")
            )
        got: set = set()

        def screen(batch_df, batch_id):
            got.update(
                (r.incoming_id, r.existing_id)
                for r in incremental_near_duplicates(
                    corpus, batch_df, "doc_id", "text", threshold=0.5
                ).collect()
            )

        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert got == want
        assert len(want) > 0
    finally:
        corpus.unpersist()
        incoming.unpersist()


def test_late_events_dropped_by_watermark(spark, tmp_path):
    """End-to-end late-data POLICY check (the one watermark semantics a
    single bounded batch can't exercise): two availableNow runs share
    one checkpoint, so run 1's max event time persists as the watermark
    for run 2 — whose straggler into the already-finalized 10:00 window
    is DROPPED. The emitted count holds only the on-time events and the
    window never appears twice (append-mode emit-once)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.streaming.windows import (
        stream_tumbling_counts,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ck = str(tmp_path / "ck")

    def write(name, rows):
        ts, et = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(list(ts), pa.timestamp("us")),
                    "event_type": pa.array(list(et)),
                }
            ),
            str(in_dir / name),
        )

    out_dir = str(tmp_path / "out")

    def run_once():
        # parquet sink (not memory): the file sink supports resuming
        # from the checkpoint, which is what carries run 1's watermark
        # into run 2
        stream = spark.readStream.schema(
            "ts timestamp, event_type string"
        ).parquet(str(in_dir))
        agg = stream_tumbling_counts(stream, "ts", "1 hour", "1 hour")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t = lambda h, m: datetime.datetime(2024, 1, 1, h, m)  # noqa: E731
    # run 1: three on-time clicks in [10:00, 11:00) plus a 12:30 event
    # that advances the persisted watermark to 11:30 > the window end
    write("a.parquet", [(t(10, 5), "click"), (t(10, 20), "click"),
                        (t(10, 40), "click"), (t(12, 30), "click")])
    run_once()
    # run 2: a straggler for the finalized 10:00 window (2h behind the
    # 12:30 max, far beyond the 1h allowance) + a 15:00 event so the
    # 12:00 window also finalizes
    write("b.parquet", [(t(10, 30), "click"), (t(15, 0), "click")])
    run_once()

    rows = {}
    for r in spark.read.parquet(out_dir).collect():
        rows.setdefault((r.bucket, r.event_type), []).append(r.n_events)
    ten = (datetime.datetime(2024, 1, 1, 10, 0), "click")
    assert rows.get(ten) == [3], (
        f"10:00 window must emit ONCE with only the 3 on-time events "
        f"(straggler dropped by the watermark); got {rows}"
    )
    twelve = (datetime.datetime(2024, 1, 1, 12, 0), "click")
    assert rows.get(twelve) == [1]


def test_stream_static_enrichment_join(spark, events_batch, events_stream):
    """Stream-static join — the standard streaming-enrichment shape: a
    live event stream joined against a static dimension (broadcast;
    the static side is re-read per micro-batch but never watermarked
    or stated). End-of-stream result must equal the batch twin."""
    dim = (
        events_batch.select("user_id")
        .distinct()
        .withColumn("user_bucket", F.pmod(F.col("user_id"), F.lit(10)))
        .cache()
    )

    def enrich(df):
        return (
            df.join(F.broadcast(dim), "user_id")
            .groupBy("user_bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    batch = {(r.user_bucket, r.n) for r in enrich(events_batch).collect()}
    streamed = _run_stream_to_memory(
        spark, enrich(events_stream), "stream_static_enrich"
    )
    got = {(r.user_bucket, r.n) for r in streamed.collect()}
    assert got == batch and len(got) > 0


def test_streaming_ingest_dedup_with_persisted_index(spark, sf_dir, tmp_path):
    """The 100 TB continuous-ingest shape end-to-end: the corpus's
    dedup index is built ONCE with prepare_dedup_index and written to
    parquet; each arriving micro-batch screens against the STORED
    index (existing_index=) — no corpus recompute per batch. Verdicts
    equal the recompute path's."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.dedup import (
        incremental_near_duplicates,
        prepare_dedup_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    incoming = docs.where(F.col("doc_id") % 3 == 0).cache()
    try:
        want = {
            (r.incoming_id, r.existing_id)
            for r in incremental_near_duplicates(
                corpus, incoming, "doc_id", "text", threshold=0.5
            ).collect()
        }
        # ingest-time artifact: the index persisted like a real corpus
        # snapshot would be (bucketBy at scale; plain parquet here)
        idx_path = str(tmp_path / "dedup_index")
        prepare_dedup_index(corpus, "doc_id", "text").write.parquet(idx_path)
        stored = spark.read.parquet(idx_path)

        in_dir = tmp_path / "incoming"
        in_dir.mkdir()
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i in range(2):
            pdf = incoming.where(F.col("doc_id") % 2 == i).toPandas()
            pq.write_table(
                pa.Table.from_pandas(pdf), str(in_dir / f"b{i}.parquet")
            )
        got: set = set()

        def screen(batch_df, batch_id):
            got.update(
                (r.incoming_id, r.existing_id)
                for r in incremental_near_duplicates(
                    None,
                    batch_df,
                    "doc_id",
                    "text",
                    threshold=0.5,
                    existing_index=stored,
                ).collect()
            )

        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert got == want
        assert len(want) > 0
    finally:
        incoming.unpersist()


def test_streaming_ingest_dedup_index_maintained_across_batches(
    spark, sf_dir, tmp_path
):
    """Continuous-ingest dedup with a MAINTAINED index: each
    micro-batch screens against the stored index, then merges its
    accepted (novel) docs back in via merge_dedup_index — so a
    duplicate arriving in a LATER batch than its original is caught.
    A static index (the previous test's shape) structurally misses
    this case: batch N+1 never sees batch N's documents."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.dedup import (
        merge_dedup_index,
        prepare_dedup_index,
        screen_against_index,
        write_dedup_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    idx_path = str(tmp_path / "idx")
    write_dedup_index(
        prepare_dedup_index(corpus, "doc_id", "text"), idx_path
    )

    # batch 0 carries a novel doc; batch 1 carries its exact copy
    # under a different id (exact dups always collide in every band)
    novel = "zq wv tn pq ab cd ef gh ij kl mn op qr st uv wx yz"
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    for i, (doc_id, text) in enumerate(
        [(900001, novel), (900002, novel)]
    ):
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table({"doc_id": [doc_id], "text": [text]}), f
        )
        # distinct mtimes pin micro-batch order (FileStreamSource
        # orders by modification time)
        os.utime(f, (1700000000 + i, 1700000000 + i))

    pairs: set = set()

    def screen_and_merge(batch_df, batch_id):
        hits = screen_against_index(
            spark, idx_path, batch_df, "doc_id", "text", threshold=0.5
        ).collect()
        pairs.update((r.incoming_id, r.existing_id) for r in hits)
        dup_ids = {r.incoming_id for r in hits}
        accepted = batch_df.where(
            ~F.col("doc_id").isin(list(dup_ids) or [-1])
        )
        if not accepted.isEmpty():
            merge_dedup_index(spark, idx_path, accepted, "doc_id", "text")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(screen_and_merge)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the cross-batch duplicate: 900002 (batch 1) vs 900001 (batch 0)
    assert (900002, 900001) in pairs, f"cross-batch dup missed: {pairs}"
    # 900001 was novel vs the corpus — nothing should have matched it
    assert not any(a == 900001 for a, _ in pairs)


def test_streaming_ivf_index_maintained_across_batches(
    spark, sf_dir, tmp_path
):
    """Retrieval-index maintenance — the ANN twin of the dedup-index
    lifecycle: micro-batches of new vectors fold into a STORED IVF
    index via merge_ivf_index (assignment under the index's frozen
    sidecar centroids, O(batch) append), and search_ivf_index over the
    maintained index returns EXACTLY what a fresh one-shot build over
    the full corpus returns under the same quantizer — plus a query
    whose true neighbor arrived in a later batch finds it, which a
    static index structurally cannot."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators.similarity import (
        merge_ivf_index,
        search_ivf_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.where(F.col("vec_id") % 3 != 0)
    later = emb.where(F.col("vec_id") % 3 == 0)
    idx_path = str(tmp_path / "ivf")
    cents = write_ivf_index(
        base, idx_path, num_lists=8, train_rounds=1
    )
    assert len(cents) == 8

    # stream the held-out vectors in as two micro-batches
    rows = later.collect()
    half = len(rows) // 2
    in_dir = tmp_path / "vec_in"
    in_dir.mkdir()
    for i, chunk in enumerate((rows[:half], rows[half:])):
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": [r.vec_id for r in chunk],
                    "embedding": [
                        [float(x) for x in r.embedding] for r in chunk
                    ],
                }
            ),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))

    def fold(batch_df, batch_id):
        if not batch_df.isEmpty():
            merge_ivf_index(spark, idx_path, batch_df)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    queries = emb.where(F.col("vec_id") < 6)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in search_ivf_index(
            spark, idx_path, queries, k=5, nprobe=4
        ).collect()
    }
    assert got, "maintained-index search returned nothing"

    # fresh one-shot build over the identical corpus under the
    # maintained index's quantizer (same centroids -> same lists):
    # hand-assembled so the quantizer is EXACTLY cents rather than a
    # retrain
    fresh_path = str(tmp_path / "ivf_fresh")
    from ontology_graph_etl_spark.operators.similarity import (
        IVF_INDEX_SIDECAR,
        kmeans_assign,
    )

    full = base.unionByName(later)
    fresh_rows = (
        kmeans_assign(full, "vec_id", "embedding", centroids=cents)
        .select("vec_id", F.col("centroid_id").alias("list_id"))
        .join(
            full.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            ),
            "vec_id",
        )
    )
    fresh_rows.write.mode("overwrite").parquet(fresh_path)
    IVF_INDEX_SIDECAR.write(
        spark,
        fresh_path,
        {"num_lists": 8, "train_rounds": 1,
         "centroids": [[float(x) for x in c] for c in cents]},
    )
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in search_ivf_index(
            spark, fresh_path, queries, k=5, nprobe=4
        ).collect()
    }
    assert got == want

    # cross-batch reachability: a query vector that IS a later-batch
    # vector must find itself excluded but its batch-mates reachable —
    # concretely, at least one later-batch id appears as a neighbor
    later_ids = {r.vec_id for r in rows}
    assert any(n in later_ids for n, _ in got.values()), (
        "no later-batch vector ever surfaced as a neighbor — merges "
        "did not reach the searched index"
    )

    # sidecar guard: merging into a sidecar-less directory refuses
    import pytest

    bare = str(tmp_path / "bare")
    base.limit(3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        merge_ivf_index(spark, bare, later.limit(1))


def test_streaming_substring_index_screen_and_merge(spark, tmp_path):
    """Round-11 stretch: the q131 fingerprint windows composed with
    the maintained-index pattern (q120/IVF precedent). Pins:

    - screen(batch vs index(corpus)) tags exactly the batch character
      spans whose >= L windows exist in the corpus — equal to the
      corpus-internal spans computation on corpus ∪ batch restricted
      to batch docs, on data with no batch-internal or corpus-only
      repetition;
    - merge is O(batch) and cross-batch reachable: a fingerprint
      introduced by merged batch 1 is caught screening batch 2;
    - maintained-vs-fresh equality: merge(b1) then screen(b2) equals
      screening b2 against a fresh index over corpus ∪ b1.
    """
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.operators.textops import (
        exact_substring_spans,
        merge_substring_index,
        screen_against_substring_index,
        write_substring_index,
    )

    L = 8
    boiler = "SHARED-BOILERPLATE-RUN"  # 22 chars, >= L
    b1_only = "BATCH-ONE-NOVELTY-RUN"
    corpus = spark.createDataFrame(
        [
            (1, f"corpus doc alpha {boiler} tail one"),
            (2, "corpus doc beta with its own words"),
        ],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "sidx")
    write_substring_index(corpus, path, min_len=L)

    batch1 = spark.createDataFrame(
        [
            (10, f"fresh start {boiler} and {b1_only} end"),
            (11, "totally novel text nothing shared"),
        ],
        "doc_id: long, text: string",
    )
    got = {
        r.doc_id: r
        for r in screen_against_substring_index(
            spark, path, batch1
        ).collect()
    }
    assert got[11].dup_chars == 0 and got[11].n_dup_spans == 0
    assert got[10].n_dup_spans == 1
    # the screen's span must equal the corpus-internal computation on
    # corpus ∪ batch restricted to batch docs (no batch-internal or
    # corpus-only repeats in this fixture, so the two coincide)
    want = {
        r.doc_id: r
        for r in exact_substring_spans(
            corpus.unionByName(batch1), min_len=L
        ).collect()
        if r.doc_id >= 10
    }
    for d in (10, 11):
        assert got[d].dup_chars == want[d].dup_chars
        assert got[d].n_dup_spans == want[d].n_dup_spans

    # merge batch1, then a batch-2 doc quoting b1_only is caught
    merge_substring_index(spark, path, batch1)
    batch2 = spark.createDataFrame(
        [(20, f"second wave quoting {b1_only} here")],
        "doc_id: long, text: string",
    )
    got2 = screen_against_substring_index(spark, path, batch2).collect()[0]
    assert got2.n_dup_spans == 1 and got2.dup_chars >= len(b1_only)

    # maintained index == fresh rebuild over corpus ∪ batch1
    fresh = str(tmp_path / "fresh")
    write_substring_index(corpus.unionByName(batch1), fresh, min_len=L)
    a = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch2).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, fresh, batch2).collect(),
        )
    )
    assert a == b

    # sidecar guard: screening without a sidecar raises
    import pytest as _pytest

    bare = str(tmp_path / "bare")
    corpus.select("doc_id").write.parquet(bare)
    with _pytest.raises(ValueError, match="sidecar"):
        screen_against_substring_index(spark, bare, batch2)


def test_compact_substring_index_preserves_screen(spark, tmp_path):
    """Compaction rewrites the index as its distinct fingerprint set:
    row count shrinks to the distinct set after duplicate-heavy
    merges, the sidecar survives the directory rewrite, and screen
    results are identical before and after."""
    from ontology_graph_etl_spark.operators.textops import (
        compact_substring_index,
        merge_substring_index,
        screen_against_substring_index,
        write_substring_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta SHARED-RUN-OF-TEXT gamma delta")],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "cidx")
    write_substring_index(corpus, path, min_len=8)
    # merge the SAME corpus twice: pure duplicate fingerprints
    # (auto_compact_ratio=None — this test exercises the MANUAL
    # compaction path; the self-triggering path has its own test)
    merge_substring_index(spark, path, corpus, auto_compact_ratio=None)
    merge_substring_index(spark, path, corpus, auto_compact_ratio=None)
    raw = spark.read.parquet(path).count()
    distinct = spark.read.parquet(path).select("__k").distinct().count()
    assert raw == 3 * distinct
    batch = spark.createDataFrame(
        [(9, "quoting SHARED-RUN-OF-TEXT verbatim")],
        "doc_id: long, text: string",
    )
    before = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    n = compact_substring_index(spark, path)
    assert n == distinct
    assert spark.read.parquet(path).count() == distinct
    after = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    assert before == after and before[0][2] > 0
    # staged-swap hygiene: neither intermediate generation survives a
    # SUCCESSFUL compaction
    import os as _os

    assert not _os.path.exists(path + ".compact")
    assert not _os.path.exists(path + ".old")


def test_compact_substring_index_crash_windows(spark, tmp_path):
    """Crash-atomicity of the staged-swap compaction (ADVICE r11: the
    in-place overwrite destroyed the index on a mid-write failure).
    Three windows:

    1. crash BEFORE the swap (a stale ``.compact`` sibling exists,
       even a corrupt one): the live index still screens, and the
       next compaction overwrites the leftover and succeeds;
    2. crash BETWEEN the two renames (live dir staged out to
       ``.old``, new generation not yet renamed in): reads fail-safe
       (sidecar-missing ValueError, never silent wrong answers) and
       BOTH complete generations remain on disk — the documented
       recovery (rename one back) restores screening;
    3. the swap never mutates the staged-out old generation: after
       recovery from (2) the screen result is byte-identical.
    """
    import os
    import shutil

    from ontology_graph_etl_spark.operators.textops import (
        compact_substring_index,
        merge_substring_index,
        screen_against_substring_index,
        write_substring_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta SHARED-RUN-OF-TEXT gamma delta")],
        "doc_id: long, text: string",
    )
    batch = spark.createDataFrame(
        [(9, "quoting SHARED-RUN-OF-TEXT verbatim")],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "cidx")
    write_substring_index(corpus, path, min_len=8)
    merge_substring_index(spark, path, corpus, auto_compact_ratio=None)
    want = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )

    # window 1: stale/corrupt .compact leftover from a failed attempt
    os.makedirs(path + ".compact", exist_ok=True)
    with open(path + ".compact/garbage.bin", "wb") as f:
        f.write(b"\x00not parquet")
    got = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    assert got == want  # live index untouched by the leftover
    n = compact_substring_index(spark, path)
    assert n > 0
    assert not os.path.exists(path + ".compact")
    assert not os.path.exists(path + ".old")
    got = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    assert got == want

    # window 2: simulate a crash between the two renames — the live
    # dir is at .old, the staged generation at .compact, path absent
    shutil.move(path, path + ".old")
    shutil.copytree(path + ".old", path + ".compact")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sidecar"):
        screen_against_substring_index(spark, path, batch)

    # window 3: documented recovery — rename the old generation back
    shutil.move(path + ".old", path)
    got = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    assert got == want
    shutil.rmtree(path + ".compact")


def test_swap_in_staged_overwrites_stale_and_restores(spark, tmp_path):
    """The one staged swap every store rewrite shares
    (:func:`util.swap_in_staged`). A stale ``.compact`` (and ``.old``)
    left by a failed attempt is overwritten by the next staged write,
    and a successful swap leaves neither sibling behind. With the
    staged generation missing, the swap-in rename fails (the local
    Hadoop filesystem raises rather than returning False): the live
    generation must be back at ``path`` and the IOError must name
    both paths."""
    import os

    import pytest

    from ontology_graph_etl_spark.operators.util import swap_in_staged

    def ids():
        return sorted(r.id for r in spark.read.parquet(path).collect())

    path = str(tmp_path / "store")
    spark.range(3).write.parquet(path)
    os.makedirs(path + ".compact")
    with open(path + ".compact/garbage.bin", "wb") as f:
        f.write(b"\x00not parquet")
    os.makedirs(path + ".old")
    spark.range(5).write.mode("overwrite").parquet(path + ".compact")
    swap_in_staged(spark, path, "test swap")
    assert ids() == list(range(5))
    assert not os.path.exists(path + ".compact")
    assert not os.path.exists(path + ".old")

    with pytest.raises(IOError, match="test swap") as err:
        swap_in_staged(spark, path, "test swap")
    assert path + ".compact" in str(err.value)
    assert f"for {path};" in str(err.value)
    assert ids() == list(range(5))
    assert not os.path.exists(path + ".old")


def test_merge_substring_index_auto_compacts(spark, tmp_path):
    """merge_substring_index self-triggers compaction once the
    appended fraction passes auto_compact_ratio: duplicate-heavy
    merges do NOT grow the stored row count unboundedly, the sidecar
    counters reset on compaction, and screen results are unchanged
    throughout. A legacy sidecar without counters compacts on the
    first merge (self-seeding)."""
    from ontology_graph_etl_spark.operators.textops import (
        _SUBSTR_INDEX_SIDECAR,
        merge_substring_index,
        screen_against_substring_index,
        write_substring_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta SHARED-RUN-OF-TEXT gamma delta")],
        "doc_id: long, text: string",
    )
    batch = spark.createDataFrame(
        [(9, "quoting SHARED-RUN-OF-TEXT verbatim")],
        "doc_id: long, text: string",
    )
    path = str(tmp_path / "aidx")
    write_substring_index(corpus, path, min_len=8)
    distinct = spark.read.parquet(path).count()
    want = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )

    # every merge re-appends the full duplicate set (ratio 1.0 > 0.5
    # against the compacted base) — each call must compact, so the
    # stored row count stays pinned at the distinct set
    for _ in range(3):
        params = merge_substring_index(spark, path, corpus)
        assert params["appended_rows"] == 0  # compaction fired + reset
        assert params["n_rows"] == distinct
        assert spark.read.parquet(path).count() == distinct
    got = sorted(
        map(
            tuple,
            screen_against_substring_index(spark, path, batch).collect(),
        )
    )
    assert got == want

    # legacy sidecar (no counters): first merge self-seeds via compact
    legacy = _SUBSTR_INDEX_SIDECAR.read(spark, path)
    legacy.pop("n_rows"), legacy.pop("appended_rows")
    _SUBSTR_INDEX_SIDECAR.write(spark, path, legacy)
    params = merge_substring_index(spark, path, corpus)
    assert params["n_rows"] == distinct and params["appended_rows"] == 0

    # manual mode never compacts: rows grow by the batch's distinct set
    before = spark.read.parquet(path).count()
    params = merge_substring_index(
        spark, path, corpus, auto_compact_ratio=None
    )
    assert spark.read.parquet(path).count() > before
    assert params["appended_rows"] > 0


def test_streaming_hll_sketches_maintained_across_batches(spark, tmp_path):
    """Streaming maintenance of the stored HLL cardinality store
    (the q163 lifecycle driven by foreachBatch): each micro-batch
    appends its per-group registers in O(batch); the estimate over
    the stored registers equals the exact distinct count of the
    union of all batches — including values repeated ACROSS batches,
    which a per-batch count would double-count and HLL's pointwise
    register max absorbs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.operators import sketches

    seed = spark.createDataFrame(
        [("g1", v) for v in range(10)], "g: string, v: long"
    )
    path = str(tmp_path / "sk")
    sketches.write_cardinality_sketches(
        sketches.build_cardinality_sketches(seed, ["g"], "v"),
        path, ["g"], "v",
    )
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    # batch 0: 5 overlapping + 5 new values; batch 1: all repeats
    batches = [
        [("g1", v) for v in range(5, 15)],
        [("g1", v) for v in range(10)],
    ]
    for i, rows in enumerate(batches):
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table({
                "g": [g for g, _ in rows],
                "v": [v for _, v in rows],
            }),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))

    def append_sketches(batch_df, batch_id):
        if not batch_df.isEmpty():
            sketches.merge_cardinality_sketches(
                spark, path, batch_df, ["g"], "v"
            )

    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(append_sketches)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.g: (r.estimate, r.n_rows)
           for r in sketches.estimate_cardinality(spark, path, ["g"])
           .collect()}
    # union domain = 0..14 (15 distinct); rows audit 10+10+10
    assert got["g1"] == (15, 30)


def test_compact_cardinality_sketches_preserves_estimates(spark, tmp_path):
    """HLL store compaction: batch rows collapse to one register row
    per group, estimates and row audits are IDENTICAL before and
    after (union is associative/commutative/idempotent — compaction
    is the estimator's own fold, pre-applied), and further merges
    keep working against the compacted generation."""
    from ontology_graph_etl_spark.operators import sketches

    path = str(tmp_path / "sk")
    frames = [
        [("g1", v) for v in range(30)] + [("g2", v) for v in range(5)],
        [("g1", v) for v in range(20, 50)],
        [("g2", v) for v in range(5, 9)],
    ]
    first = spark.createDataFrame(frames[0], "g: string, v: long")
    sketches.write_cardinality_sketches(
        sketches.build_cardinality_sketches(first, ["g"], "v"),
        path, ["g"], "v",
    )
    for rows in frames[1:]:
        sketches.merge_cardinality_sketches(
            spark, path,
            spark.createDataFrame(rows, "g: string, v: long"),
            ["g"], "v",
        )
    before = {r.g: (r.estimate, r.n_rows)
              for r in sketches.estimate_cardinality(spark, path, ["g"])
              .collect()}
    n_rows_before = spark.read.parquet(path).count()
    assert n_rows_before > 2  # batches really did accumulate
    n = sketches.compact_cardinality_sketches(spark, path)
    assert n == 2  # one row per group now
    assert spark.read.parquet(path).count() == 2
    after = {r.g: (r.estimate, r.n_rows)
             for r in sketches.estimate_cardinality(spark, path, ["g"])
             .collect()}
    assert after == before == {"g1": (50, 60), "g2": (9, 9)}
    # the compacted generation still accepts merges
    sketches.merge_cardinality_sketches(
        spark, path,
        spark.createDataFrame([("g2", 100)], "g: string, v: long"),
        ["g"], "v",
    )
    final = {r.g: r.estimate
             for r in sketches.estimate_cardinality(spark, path, ["g"])
             .collect()}
    assert final == {"g1": 50, "g2": 10}


def test_streaming_cdc_apply_staged_swap(spark, tmp_path):
    """Streaming CDC application to a stored parquet table via
    foreachBatch + apply_cdc_to_store's staged swap: after two
    micro-batches the stored state equals applying the batches
    sequentially — including a key updated in batch 0 and deleted in
    batch 1 (cross-batch terminal state), which single-batch
    compaction alone cannot produce."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.operators.upsert import apply_cdc_to_store

    state = str(tmp_path / "table")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k: long, name: string, v: double"
    ).write.parquet(state)
    in_dir = tmp_path / "cdc"
    in_dir.mkdir()
    batches = [
        # batch 0: update 1, insert 3
        [(1, "a2", 11.0, "U", 1), (3, "c", 30.0, "I", 2)],
        # batch 1: delete 1 (updated last batch), update 3
        [(1, "a2", 11.0, "D", 3), (3, "c2", 31.0, "U", 4)],
    ]
    for i, rows in enumerate(batches):
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table({
                "k": [r[0] for r in rows],
                "name": [r[1] for r in rows],
                "v": [r[2] for r in rows],
                "op": [r[3] for r in rows],
                "seq": [r[4] for r in rows],
            }),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))

    def apply(batch_df, batch_id):
        if not batch_df.isEmpty():
            apply_cdc_to_store(spark, state, batch_df, ["k"], "seq")

    stream = (
        spark.readStream
        .schema("k long, name string, v double, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {r.k: (r.name, r.v)
             for r in spark.read.parquet(state).collect()}
    assert final == {2: ("b", 20.0), 3: ("c2", 31.0)}


def test_frozen_lm_merge_fold_equivalence(spark, sf_dir, tmp_path):
    """Fold-equivalence of the frozen-LM store (the fifth stored
    artifact): building the count store in one shot and building it
    by merge_lm_counts over three disjoint batches yields the SAME
    folded (lang, w1, w2, c) table — n-gram counts are additive, so
    batch granularity is free — and identical frozen scores for a
    probe batch."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats
    from ontology_graph_etl_spark.operators.textops import language_id

    docs = language_id(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
    )
    oneshot = str(tmp_path / "lm1")
    gatestats.write_lm_counts(
        gatestats.build_lm_counts(docs), oneshot
    )
    merged = str(tmp_path / "lm3")
    gatestats.write_lm_counts(
        gatestats.build_lm_counts(docs.where("doc_id % 3 = 0")), merged
    )
    for i in (1, 2):
        gatestats.merge_lm_counts(
            spark, merged, docs.where(f"doc_id % 3 = {i}")
        )

    def fold(path):
        # recursive: appended batches commit as batch-* subdirs
        # (crash-atomic staged rename, r15)
        return {
            (r.lang, r.w1, r.w2): r.c
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .groupBy("lang", "w1", "w2")
            .agg(F.sum("c").alias("c"))
            .collect()
        }

    want = fold(oneshot)
    assert fold(merged) == want and len(want) > 0
    probe = docs.limit(20)
    s1 = {r.doc_id: r.mean_logprob
          for r in gatestats.score_with_frozen_lm(
              spark, oneshot, probe).collect()}
    s3 = {r.doc_id: r.mean_logprob
          for r in gatestats.score_with_frozen_lm(
              spark, merged, probe).collect()}
    assert s1 == s3 and len(s1) == 20


def test_frozen_lm_compact_preserves_scores(spark, sf_dir, tmp_path):
    """compact_lm_counts collapses appended batch rows to one row per
    n-gram; frozen scores are IDENTICAL before and after (compaction
    is the scorer's own group-sum, pre-applied), further merges keep
    working, and a lam-mismatched append refuses loudly."""
    import pytest as _pytest

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats
    from ontology_graph_etl_spark.operators.textops import language_id

    docs = language_id(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
    )
    path = str(tmp_path / "lm")
    gatestats.write_lm_counts(
        gatestats.build_lm_counts(docs.where("doc_id % 2 = 0")), path
    )
    gatestats.merge_lm_counts(spark, path, docs.where("doc_id % 2 = 1"))
    probe = docs.limit(25)
    before = {r.doc_id: r.mean_logprob
              for r in gatestats.score_with_frozen_lm(
                  spark, path, probe).collect()}
    raw_before = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(path)
        .count()
    )
    n = gatestats.compact_lm_counts(spark, path)
    assert 0 < n < raw_before  # duplicates really existed and merged
    assert spark.read.parquet(path).count() == n
    after = {r.doc_id: r.mean_logprob
             for r in gatestats.score_with_frozen_lm(
                 spark, path, probe).collect()}
    assert after == before
    gatestats.merge_lm_counts(spark, path, docs.limit(5))  # still appends
    with _pytest.raises(ValueError, match="refusing to append"):
        gatestats.write_lm_counts(
            gatestats.build_lm_counts(docs.limit(5)),
            path,
            lam=0.5,
            mode="append",
        )


def test_frozen_lm_append_crash_atomic(spark, tmp_path):
    """Crash-atomicity of the LM append path (r14 ADVICE fix): an
    append COMMITS as a single directory rename into the store, so a
    job that dies mid-write leaves only an orphaned staging dir the
    read side never folds in — a silently half-committed count batch
    would skew every frozen score forever. Verifies (a) committed
    batches land as batch-* subdirectories and score correctly, and
    (b) an orphaned ``.staging-*`` dir full of poison counts changes
    nothing."""
    import os

    from ontology_graph_etl_spark.operators import gatestats

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha", "en"), (2, "beta gamma beta", "en")],
        "doc_id: long, text: string, lang_pred: string",
    )
    path = str(tmp_path / "lm")
    gatestats.write_lm_counts(
        gatestats.build_lm_counts(docs.where("doc_id = 1")), path
    )
    gatestats.merge_lm_counts(spark, path, docs.where("doc_id = 2"))
    subdirs = [
        d for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d))
    ]
    assert len(subdirs) == 1 and subdirs[0].startswith("batch-")
    before = {
        r.doc_id: r.mean_logprob
        for r in gatestats.score_with_frozen_lm(spark, path, docs)
        .collect()
    }
    # simulate a mid-append crash: a staging dir full of poison counts
    # next to the store (the pre-rename state) — never read
    poison = spark.createDataFrame(
        [("en", "alpha", None, 10_000_000)],
        "lang: string, w1: string, w2: string, c: long",
    )
    poison.write.mode("overwrite").parquet(f"{path}.staging-batch-dead")
    after = {
        r.doc_id: r.mean_logprob
        for r in gatestats.score_with_frozen_lm(spark, path, docs)
        .collect()
    }
    assert after == before
    # compaction folds committed batch subdirs and ignores the orphan
    gatestats.compact_lm_counts(spark, path)
    final = {
        r.doc_id: r.mean_logprob
        for r in gatestats.score_with_frozen_lm(spark, path, docs)
        .collect()
    }
    assert final == before


def test_score_with_frozen_lm_counts_arg_matches_store_read(
    spark, tmp_path
):
    """build_ccnet_store scores the reference with ``counts=`` — the
    count table it has just written — instead of re-reading the
    store. That is only sound while the passed table equals the
    store's recursive read + group-sum. Pin it on a tiny CCNet store:
    one probe batch (seen and unseen n-grams, an empty doc) scores
    identically with and without ``counts=``."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.operators import gatestats
    from ontology_graph_etl_spark.operators.textops import language_id

    ref = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog sat too"),
            (2, "a dog and a cat are on the mat in the sun"),
            (3, "zzq xxv qqz vvx"),
            (4, "the sun is on the dog and it is warm"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "ccnet")
    gatestats.build_ccnet_store(ref, store, langs=["en", "und"])
    # the count table exactly as build_ccnet_store derives and passes it
    tagged = language_id(ref, "text").where(
        F.col("lang_pred").isin("en", "und")
    )
    counts = gatestats.build_lm_counts(
        tagged, "doc_id", "text", "lang_pred"
    ).localCheckpoint()
    probe = language_id(
        spark.createDataFrame(
            [
                (10, "the cat sat on the warm mat"),
                (11, "the zebra is on the mat"),
                (12, "xxv zzq unseen tokens"),
                (13, ""),
            ],
            "doc_id long, text string",
        ),
        "text",
    )

    def score(**kw):
        return {
            r.doc_id: (r.lang_pred, r.mean_logprob)
            for r in gatestats.score_with_frozen_lm(
                spark, store + "/lm", probe, **kw
            ).collect()
        }

    without = score()
    assert score(counts=counts) == without
    assert len(without) == 4
    assert sum(v[1] is not None for v in without.values()) >= 2


def test_frozen_ccnet_store_matches_train_on_self(spark, sf_dir, tmp_path):
    """The q166 equivalence pin: screening the REFERENCE corpus
    against its own frozen store reproduces ccnet_quality_pipeline's
    (lang, score, keep) verdicts exactly — on the training corpus
    every n-gram is seen, the OOV rules are dormant, and the frozen
    cutoff reproduces the rank gate's boundary by value."""
    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    ref = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where("doc_id % 2 = 0")
    )
    store = str(tmp_path / "ccnet")
    gatestats.build_ccnet_store(ref, store, langs=["en", "und"])
    pipe = {
        r.doc_id: (r.lang_pred, r.mean_logprob, r.keep)
        for r in pipelines.ccnet_quality_pipeline(
            ref, langs=["en", "und"]
        ).collect()
    }
    frozen = {
        r.doc_id: (r.lang_pred, r.mean_logprob, r.keep)
        for r in gatestats.screen_ccnet_frozen(spark, store, ref)
        .collect()
    }
    assert frozen == pipe and len(pipe) > 0
    assert any(v[2] for v in frozen.values())  # non-vacuous gate
    import pytest as _pytest

    with _pytest.raises(ValueError, match="langs"):
        gatestats.build_ccnet_store(ref, store + "2")


def test_screen_against_cutoffs_policies(spark, tmp_path):
    """Frozen-cutoff screen semantics on hand-checkable data: ties at
    the cutoff keep (by-value boundary), NULL scores never keep, and
    strata the reference never saw follow the explicit
    unknown_strata policy (drop vs keep), never a join accident."""
    import pytest as _pytest

    from ontology_graph_etl_spark.operators import gatestats

    ref = spark.createDataFrame(
        [("a", i, float(i)) for i in range(1, 11)]
        + [("b", i, float(100 + i)) for i in range(1, 5)],
        "s: string, k: long, v: double",
    )
    path = str(tmp_path / "cut")
    gatestats.write_gate_cutoffs(
        gatestats.build_gate_cutoffs(ref, "k", "s", "v", keep_pct=30),
        path, "s", "v", 30,
    )
    cuts = {r.s: (r.cutoff, r.n_build)
            for r in gatestats.read_gate_cutoffs(spark, path)[0]
            .collect()}
    # a: 10 rows, keep 3 -> cutoff = 8.0; b: 4 rows, keep 2 -> 103.0
    assert cuts == {"a": (8.0, 10), "b": (103.0, 4)}
    batch = spark.createDataFrame(
        [("a", 1, 8.0), ("a", 2, 7.999), ("b", 3, None),
         ("zz", 4, 999.0), ("zz", 5, None)],
        "s: string, k: long, v: double",
    )
    got = {r.k: r.keep
           for r in gatestats.screen_against_cutoffs(
               spark, path, batch).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False}
    kept = {r.k: r.keep
            for r in gatestats.screen_against_cutoffs(
                spark, path, batch, unknown_strata="keep").collect()}
    assert kept[4] is True and kept[3] is False
    # "NULL scores never keep" is unconditional — it wins over the
    # unknown-strata 'keep' pass-through too (r14 ADVICE fix)
    assert kept[5] is False
    with _pytest.raises(ValueError, match="unknown_strata"):
        gatestats.screen_against_cutoffs(
            spark, path, batch, unknown_strata="maybe")


def test_streaming_ccnet_screen_frozen_store(spark, sf_dir, tmp_path):
    """The frozen-store property that motivates the lifecycle, driven
    by foreachBatch: micro-batches screened against the frozen CCNet
    store get EXACTLY the verdicts of screening their union in one
    call — zero reference recompute per batch, and batch order cannot
    matter because nothing in the store changes."""
    import os

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where("doc_id % 2 = 0")
    incoming = docs.where("doc_id % 2 = 1")
    store = str(tmp_path / "ccnet")
    gatestats.build_ccnet_store(ref, store, langs=["en", "und"])
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in (0, 1, 2):
        rows = incoming.where(f"doc_id % 3 = {i}").collect()
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": [r.doc_id for r in rows],
                "text": [r.text for r in rows],
            }),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))
    verdicts: dict[int, tuple] = {}

    def screen(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        for r in gatestats.screen_ccnet_frozen(
            spark, store, batch_df
        ).collect():
            verdicts[r.doc_id] = (r.lang_pred, r.mean_logprob, r.keep)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    oneshot = {
        r.doc_id: (r.lang_pred, r.mean_logprob, r.keep)
        for r in gatestats.screen_ccnet_frozen(
            spark, store, incoming
        ).collect()
    }
    assert verdicts == oneshot and len(oneshot) == incoming.count()


def test_streaming_drift_monitor_frozen_baseline(spark, sf_dir, tmp_path):
    """The frozen drift baseline as a streaming monitor: each
    micro-batch PSI-scores against the SAME stored reference
    distributions via foreachBatch — per-batch verdicts equal the
    batch-at-once computation (nothing in the store changes between
    batches), and PSI of the reference against itself is exactly 0
    (shares re-derive bit-identically from the frozen edges)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ref = docs.where("doc_id % 2 = 0")
    incoming = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "bl")
    gatestats.build_drift_baseline(
        ref, path, cat_cols=["lang"], num_cols=["n_chars"]
    )
    # self-PSI is exactly zero on every monitored column
    self_psi = {(r.kind, r.col): r.psi
                for r in gatestats.psi_against_baseline(
                    spark, path, ref).collect()}
    assert self_psi == {("cat", "lang"): 0.0, ("num", "n_chars"): 0.0}
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    for i in (0, 1):
        rows = incoming.where(f"doc_id % 2 = 1 and doc_id % 4 = {2*i+1}"
                              ).collect()
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": [r.doc_id for r in rows],
                "lang": [r.lang for r in rows],
                "n_chars": [r.n_chars for r in rows],
            }),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))
    got: dict[int, dict] = {}

    def monitor(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        key = batch_df.agg({"doc_id": "min"}).collect()[0][0] % 4
        got[key] = {
            (r.kind, r.col): (r.psi, r.n_batch)
            for r in gatestats.psi_against_baseline(
                spark, path, batch_df
            ).collect()
        }

    stream = (
        spark.readStream.schema("doc_id long, lang string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(got) == 2
    for i in (1, 3):
        want = {
            (r.kind, r.col): (r.psi, r.n_batch)
            for r in gatestats.psi_against_baseline(
                spark, path, incoming.where(f"doc_id % 4 = {i}")
            ).collect()
        }
        assert got[i] == want and want[("cat", "lang")][1] > 0


def test_ingest_micro_batch_foreachbatch_lifecycle(spark, sf_dir, tmp_path):
    """The q172 composition driven by Structured Streaming foreachBatch
    over THREE micro-batches — the actual production ingest loop: all
    five stores built once from a reference corpus, then each arriving
    batch is screened in ONE call and its accepted docs fold back into
    the maintainable stores, so batch N+1's screen sees batch N:

    * an exact re-send of an ACCEPTED batch-1 doc must come back
      near_dup=True in a later batch (the band index grew);
    * re-sending a REJECTED doc must still screen the same way
      (rejects never merge — the screen_against_index contract);
    * the HLL store accumulates accepted rows only (audit n_rows);
    * verdicts are frozen before merges — the returned trail stays
      valid and batch-internal order cannot matter.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import (
        dedup,
        gatestats,
        sketches,
        textops,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    # a 1/6 reference slice keeps the ccnet-store build (the heavy
    # stage) test-sized; semantics are split-agnostic
    ref = docs.where("doc_id % 6 = 1")
    dd = str(tmp_path / "bands")
    ss = str(tmp_path / "substr")
    cc = str(tmp_path / "ccnet")
    bl = str(tmp_path / "baseline")
    hl = str(tmp_path / "hll")
    dedup.write_dedup_index(
        dedup.prepare_dedup_index(
            ref, "doc_id", "text",
            num_hashes=64, bands=16, shingle_n=3, base_hash="md5",
        ),
        dd, num_hashes=64, bands=16, shingle_n=3, base_hash="md5",
    )
    textops.write_substring_index(
        ref, ss, "doc_id", "text", min_len=30, base_hash="md5"
    )
    gatestats.build_ccnet_store(
        ref.select("doc_id", "text"), cc, langs=["en", "und"],
        keep_pct=80, lam=0.7,
    )
    gatestats.build_drift_baseline(
        ref, bl, cat_cols=["lang"], num_cols=["n_chars"]
    )
    sketches.write_cardinality_sketches(
        sketches.build_cardinality_sketches(ref, ["lang"], "doc_id"),
        hl, ["lang"], "doc_id",
    )

    arriving = sorted(
        docs.where("doc_id % 6 = 0").collect(), key=lambda r: r.doc_id
    )
    half = len(arriving) // 2
    b1 = arriving[:half][:20]
    # batch 2 = fresh docs; batch 3 RE-SENDS batch-1 docs under new ids
    b2 = arriving[half:][:20]
    b3 = [
        (r.doc_id + 1_000_000, r.text, r.lang, r.n_chars) for r in b1
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(
        [
            [(r.doc_id, r.text, r.lang, r.n_chars) for r in b1],
            [(r.doc_id, r.text, r.lang, r.n_chars) for r in b2],
            b3,
        ]
    ):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [x[0] for x in rows],
                    "text": [x[1] for x in rows],
                    "lang": [x[2] for x in rows],
                    "n_chars": [x[3] for x in rows],
                }
            ),
            str(in_dir / f"b{i}.parquet"),
        )
        import os

        os.utime(
            str(in_dir / f"b{i}.parquet"),
            (1700000000 + i, 1700000000 + i),
        )

    trails = []

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        trails.append(
            pipelines.ingest_micro_batch(
                spark, batch_df, "doc_id", "text",
                dedup_index_path=dd,
                substring_index_path=ss,
                ccnet_store_dir=cc,
                drift_baseline_path=bl,
                hll_store_path=hl,
            ).collect()
        )

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(trails) == 3
    t1 = {r.doc_id: r for r in trails[0]}
    t3 = {r.doc_id: r for r in trails[2]}
    accepted1 = [i for i, r in t1.items() if r.accepted]
    rejected_dup1 = [i for i, r in t1.items() if r.near_dup]
    assert accepted1, "lifecycle test needs at least one accepted doc"
    # (a) re-sent accepted docs now collide against the grown index
    for i in accepted1:
        assert t3[i + 1_000_000].near_dup is True, i
        assert t3[i + 1_000_000].accepted is False, i
    # (b) re-sent docs that were near-dups of the ORIGINAL corpus
    # still screen as near-dups (the stored rows never left)
    for i in rejected_dup1:
        assert t3[i + 1_000_000].near_dup is True, i
    # (c) HLL audit rows grew by exactly the accepted counts
    n_ref = ref.count()
    n_acc = sum(
        1 for t in trails for r in t if r.accepted
    )
    est = sketches.estimate_cardinality(spark, hl, ["lang"])
    assert est.agg(F.sum("n_rows")).collect()[0][0] == n_ref + n_acc


def test_binned_cutoff_store_merge_fold_equivalence(spark, sf_dir, tmp_path):
    """The mergeable cutoff store's additive contract: building the
    bin-count store in one shot and building it from a base slice +
    two merge_binned_cutoff_store batches yields IDENTICAL derived
    cutoffs and identical screen verdicts — bin counts are additive
    under the FROZEN ranges, so batch granularity and order are free.
    Also pins: compaction preserves cutoffs; a crash-orphaned staging
    dir under counts/ is never folded; merges of unknown strata drop."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    build = docs.where("doc_id % 4 = 2")
    m1 = docs.where("doc_id % 4 = 3")
    m2 = docs.where("doc_id % 4 = 1")
    probe = docs.where("doc_id % 4 = 0")

    one = str(tmp_path / "one")
    gatestats.build_binned_cutoff_store(
        docs.where("doc_id % 4 <> 0"), one, "lang", "n_chars", 40,
        n_bins=64,
    )
    # one-shot ranges come from the FULL %4<>0 slice; the merged store
    # freezes ranges from the build slice only — so for strict
    # equality the build slice must dominate the range. Rebuild the
    # one-shot store under the build slice's ranges by building from
    # the build slice and merging the rest in one batch.
    oneb = str(tmp_path / "oneb")
    gatestats.build_binned_cutoff_store(
        build, oneb, "lang", "n_chars", 40, n_bins=64
    )
    gatestats.merge_binned_cutoff_store(
        spark, oneb, docs.where("doc_id % 4 = 3 OR doc_id % 4 = 1")
    )
    merged = str(tmp_path / "merged")
    gatestats.build_binned_cutoff_store(
        build, merged, "lang", "n_chars", 40, n_bins=64
    )
    gatestats.merge_binned_cutoff_store(spark, merged, m1)
    gatestats.merge_binned_cutoff_store(spark, merged, m2)

    def cuts(path):
        return {
            r.strata: (r.cutoff, r.n_build)
            for r in gatestats.derive_binned_cutoffs(spark, path)
            .collect()
        }

    want = cuts(oneb)
    assert cuts(merged) == want and len(want) > 0
    v1 = {
        r.doc_id: r.keep
        for r in gatestats.screen_against_binned_cutoffs(
            spark, merged, probe
        ).collect()
    }
    v2 = {
        r.doc_id: r.keep
        for r in gatestats.screen_against_binned_cutoffs(
            spark, oneb, probe
        ).collect()
    }
    assert v1 == v2 and len(v1) > 0

    # crash orphan: a poison staging dir next to counts/ changes nothing
    poison = spark.createDataFrame(
        [("en", 0, 10_000_000)], "strata: string, bin: int, c: long"
    )
    poison.write.mode("overwrite").parquet(
        merged + "/counts.staging-batch-dead"
    )
    assert cuts(merged) == want

    # compaction folds committed batch subdirs, cutoffs unchanged
    n = gatestats.compact_binned_cutoff_store(spark, merged)
    assert 0 < n
    assert cuts(merged) == want

    # unknown strata in a merge batch drop (no frozen range)
    alien = spark.createDataFrame(
        [(999999, "xx_new_lang", 123)],
        "doc_id: long, lang: string, n_chars: long",
    )
    gatestats.merge_binned_cutoff_store(spark, merged, alien)
    assert cuts(merged) == want


def test_binned_cutoffs_agree_with_exact_within_bin_error(
    spark, sf_dir, tmp_path
):
    """The binned store's accuracy contract vs the exact store: the
    binned cutoff never drops below the exact cutoff's bin lower edge
    (it over-keeps, never under-keeps, by construction), every screen
    DISAGREEMENT row's score lies inside the half-open error band
    [binned_cutoff, exact_cutoff), and the binned keep set is a
    SUPERSET of the exact keep set per stratum."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ref = docs.where("doc_id % 3 <> 0")
    probe = docs.where("doc_id % 3 = 0")
    exact = str(tmp_path / "exact")
    gatestats.write_gate_cutoffs(
        gatestats.build_gate_cutoffs(ref, "doc_id", "lang", "n_chars", 40),
        exact, "lang", "n_chars", 40,
    )
    binned = str(tmp_path / "binned")
    gatestats.build_binned_cutoff_store(
        ref, binned, "lang", "n_chars", 40, n_bins=64
    )
    ec = {r.lang: r.cutoff
          for r in gatestats.read_gate_cutoffs(spark, exact)[0].collect()}
    bc = {r.strata: r.cutoff
          for r in gatestats.derive_binned_cutoffs(spark, binned)
          .collect()}
    assert set(ec) == set(bc)
    lohi = {
        r.strata: (r.lo, r.hi)
        for r in spark.read.parquet(binned + "/ranges").collect()
    }
    for k, e in ec.items():
        b = bc[k]
        assert b <= e, (k, b, e)  # over-keep only
        lo, hi = lohi[k]
        width = (hi - lo) / 64 if hi > lo else 0.0
        assert e - b <= width + 1e-9, (k, b, e, width)
    ev = {r.doc_id: r.keep
          for r in gatestats.screen_against_cutoffs(
              spark, exact, probe).collect()}
    bv = {r.doc_id: r.keep
          for r in gatestats.screen_against_binned_cutoffs(
              spark, binned, probe).collect()}
    scores = {r.doc_id: (r.lang, r.n_chars) for r in probe.collect()}
    n_diff = 0
    for i, keep_exact in ev.items():
        keep_binned = bv[i]
        if keep_exact:
            assert keep_binned, i  # superset: exact-kept stays kept
        if keep_binned != keep_exact:
            n_diff += 1
            lang, s = scores[i]
            assert bc[lang] <= s < ec[lang], (i, s, bc[lang], ec[lang])
    # the disagreement band is narrow by construction; sanity: most
    # verdicts agree
    assert n_diff < len(ev) * 0.2


def test_calibrate_binned_cutoffs_verdicts(spark, sf_dir, tmp_path):
    """Calibration semantics: against the SAME corpus the store
    ingested, every stratum's gap is within the one-bin error bound
    (needs_rebuild=False across the board — the store's own accuracy
    contract); against a drifted corpus the verdicts flip; a stratum
    on only one side always flags."""
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import gatestats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "store")
    gatestats.build_binned_cutoff_store(
        docs.where("doc_id % 3 = 1"), path, "lang", "n_chars", 40,
        n_bins=64,
    )
    gatestats.merge_binned_cutoff_store(
        spark, path, docs.where("doc_id % 3 = 2")
    )
    ingested = docs.where("doc_id % 3 <> 0")
    same = gatestats.calibrate_binned_cutoffs(
        spark, path, ingested, "doc_id"
    ).collect()
    assert same and all(not r.needs_rebuild for r in same), same
    assert all(
        r.gap_bins is None or r.gap_bins <= 1.0 + 1e-9 for r in same
    )
    # binned never under-keeps: cutoff_binned <= cutoff_exact on the
    # ingested corpus
    for r in same:
        if r.cutoff_binned is not None and r.cutoff_exact is not None:
            assert r.cutoff_binned <= r.cutoff_exact + 1e-9, r

    # drifted corpus: shift every score up by 10 bins' worth — the
    # exact cutoffs move, the frozen store's don't, verdicts flip
    drifted = ingested.withColumn(
        "n_chars", F.col("n_chars") + F.lit(2000)
    )
    moved = gatestats.calibrate_binned_cutoffs(
        spark, path, drifted, "doc_id"
    ).collect()
    assert all(r.needs_rebuild for r in moved), moved

    # one-sided stratum: a lang the store never saw
    alien = ingested.unionByName(
        spark.createDataFrame(
            [(10_000_001, "xx", 500)],
            "doc_id: long, lang: string, n_chars: long",
        ).select("doc_id", "lang", F.col("n_chars").cast("int"))
    )
    rows = {
        r.strata: r.needs_rebuild
        for r in gatestats.calibrate_binned_cutoffs(
            spark, path, alien, "doc_id"
        ).collect()
    }
    assert rows["xx"] is True


def test_run_ingest_stream_wrapper(spark, sf_dir, tmp_path):
    """pipelines.run_ingest_stream — the one-call deployment wrapper
    around the ingest composition: a parquet drop directory drains
    through foreachBatch, each batch's decision trail lands
    partitioned by ingest_batch_id, and the maintainable store grows
    batch-over-batch (a doc re-sent in a later file screens as a
    near-dup of its accepted earlier copy)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where("doc_id % 6 = 1")
    dd = str(tmp_path / "bands")
    dedup.write_dedup_index(
        dedup.prepare_dedup_index(
            ref, "doc_id", "text",
            num_hashes=64, bands=16, shingle_n=3, base_hash="xxhash64",
        ),
        dd, num_hashes=64, bands=16, shingle_n=3, base_hash="xxhash64",
    )
    rows = sorted(
        docs.where("doc_id % 6 = 0").collect(), key=lambda r: r.doc_id
    )[:30]
    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    import os

    b2 = [(r.doc_id + 1_000_000, r.text) for r in rows[:15]]  # re-sends
    for i, batch in enumerate(
        [[(r.doc_id, r.text) for r in rows], b2]
    ):
        f = str(in_dir / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": [x[0] for x in batch],
                    "text": [x[1] for x in batch],
                }
            ),
            f,
        )
        os.utime(f, (1700000000 + i, 1700000000 + i))
    trail_dir = str(tmp_path / "trails")
    q = pipelines.run_ingest_stream(
        spark,
        str(in_dir),
        "doc_id long, text string",
        trail_dir,
        str(tmp_path / "ck"),
        dedup_index_path=dd,
    )
    q.awaitTermination(240)
    got = spark.read.parquet(trail_dir)
    assert set(got.select("ingest_batch_id").distinct().toPandas()
               ["ingest_batch_id"]) == {0, 1}
    t1 = {r.doc_id: r for r in got.where("ingest_batch_id = 0").collect()}
    t2 = {r.doc_id: r for r in got.where("ingest_batch_id = 1").collect()}
    assert len(t1) == 30 and len(t2) == 15
    # every batch-2 re-send of an ACCEPTED batch-1 doc collides
    for i, r in t1.items():
        if r.accepted and (i + 1_000_000) in t2:
            assert t2[i + 1_000_000].near_dup is True, i


def test_ingest_semantic_store_cross_batch(spark, sf_dir, tmp_path):
    """The SIXTH ingest store (q179): a PQ-IVF index screens each
    arriving batch for EMBEDDING-SPACE near-duplicates and accepted
    vectors fold back, so batch N+1 is screened against batch N's
    admitted embeddings. Driven through foreachBatch over three
    micro-batches, like the five-store lifecycle test:

    * batch-3 re-sends batch-1's ACCEPTED vectors verbatim under new
      ids: each copy's nearest_sim must be >= its batch-1 twin's
      (frozen centroids => identical probe lists => the candidate
      set only grew — the superset-monotonic invariant), and at
      least one copy crosses the threshold => semantic_dup=True,
      accepted=False (the cross-batch semantic-duplicate catch);
    * REJECTED vectors never merge: the stored row count equals
      |build corpus| + total accepted across batches.

    The threshold is derived at runtime between the (deterministic,
    md5-seeded) fresh-vs-store max and the copy-vs-store max, so the
    test pins the mechanism rather than a data-dependent constant.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    A = emb.where("vec_id % 3 = 1")
    B = emb.where("vec_id % 3 = 0")
    idx = str(tmp_path / "pq")
    similarity.write_pq_ivf_index(
        A, idx, "vec_id", "embedding",
        num_lists=4, m=4, ksub=16, train_rounds=0, pq_rounds=0,
    )
    n_built = spark.read.parquet(idx).count()

    rows = sorted(B.collect(), key=lambda r: r.vec_id)
    b1 = rows[:20]
    b2 = rows[20:40]
    b3 = [(r.vec_id + 1_000_000, r.embedding) for r in b1]

    # threshold calibration pre-pass on a throwaway index replaying
    # EXACTLY the stream's store state: fresh B-vs-A sims must all
    # pass batch 1, and after only b1 merges, an exact copy of a b1
    # vector must be reachable above the bar. (The stream's batch-2
    # merges can only ADD candidates, so the calibrated copy sims
    # are lower bounds on the stream's — superset-monotonic.)
    calib = str(tmp_path / "pq_calib")
    similarity.write_pq_ivf_index(
        A, calib, "vec_id", "embedding",
        num_lists=4, m=4, ksub=16, train_rounds=0, pq_rounds=0,
    )
    fresh_max = (
        similarity.screen_pq_ivf_index(
            spark, calib, B, "vec_id", "embedding",
            threshold=2.0, nprobe=2,
        )
        .agg(F.max("nearest_sim"))
        .collect()[0][0]
    )
    b1_frame = spark.createDataFrame(
        [(r.vec_id, list(map(float, r.embedding))) for r in b1],
        "vec_id long, embedding array<double>",
    )
    similarity.merge_pq_ivf_index(spark, calib, b1_frame)
    copy_max = (
        similarity.screen_pq_ivf_index(
            spark,
            calib,
            b1_frame.select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"),
                "embedding",
            ),
            "vec_id", "embedding", threshold=2.0, nprobe=2,
        )
        .agg(F.max("nearest_sim"))
        .collect()[0][0]
    )
    assert copy_max > fresh_max, (
        "PQ quantization too coarse to separate an exact copy from "
        f"fresh vectors (fresh_max={fresh_max}, copy_max={copy_max})"
    )
    thresh = (fresh_max + copy_max) / 2.0
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    import os

    for i, batch in enumerate(
        [[(r.vec_id, r.embedding) for r in b1],
         [(r.vec_id, r.embedding) for r in b2],
         b3]
    ):
        pq.write_table(
            pa.table(
                {
                    "vec_id": [x[0] for x in batch],
                    "embedding": [list(map(float, x[1])) for x in batch],
                }
            ),
            str(in_dir / f"b{i}.parquet"),
        )
        os.utime(
            str(in_dir / f"b{i}.parquet"),
            (1700000000 + i, 1700000000 + i),
        )

    trails = []

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        trails.append(
            pipelines.ingest_micro_batch(
                spark, batch_df, id_col="vec_id",
                pq_index_path=idx,
                vec_col="embedding",
                semantic_threshold=thresh,
                pq_nprobe=2,
            ).collect()
        )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(trails) == 3
    t1 = {r.vec_id: r for r in trails[0]}
    t3 = {r.vec_id: r for r in trails[2]}
    accepted1 = [i for i, r in t1.items() if r.accepted]
    assert accepted1, "needs at least one accepted batch-1 vector"
    # (a) superset-monotonic: the copy sees every candidate its twin
    # saw (frozen centroids, same probe lists) PLUS the twin itself
    for i in accepted1:
        c = t3[i + 1_000_000]
        assert c.nearest_sim >= t1[i].nearest_sim, i
    # (b) the cross-batch semantic-duplicate catch fires
    caught = [
        i for i in accepted1
        if t3[i + 1_000_000].semantic_dup
    ]
    assert caught, "no re-sent accepted vector screened semantic_dup"
    for i in caught:
        assert t3[i + 1_000_000].accepted is False, i
    # (c) rejects never merge: stored rows = build + accepted
    n_acc = sum(1 for t in trails for r in t if r.accepted)
    assert spark.read.parquet(idx).count() == n_built + n_acc


def test_ingest_url_store_cross_batch(spark, tmp_path):
    """The SEVENTH ingest store (q185): the stored URL-seen set and
    domain budgets screen each arriving batch and admitted rows fold
    back, so batch N+1 sees batch N — driven through foreachBatch
    over three micro-batches:

    * batch-3 re-sends batch-1's ACCEPTED URLs under new ids: every
      copy must screen url_seen=True (the cross-batch URL-exact
      catch); URLs REJECTED in batch 1 and never admitted since stay
      unseen (rejects never merge);
    * a domain fills up MID-STREAM: the budget spent by admitted
      batch-1/2 rows pushes it to the frozen cap, so batch-3 rows of
      that domain screen domain_full=True even with fresh URLs;
    * the stored seen-set grows by exactly the accepted NEW urls.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_graph_etl_spark import pipelines
    from ontology_graph_etl_spark.operators import webops

    # build corpus: a.com holds 2 of its 4-budget, b.com 0 of 4
    build = spark.createDataFrame(
        [(1000, "https://a.com/seed0"), (1001, "https://a.com/seed1")],
        "doc_id long, url string",
    )
    idx = str(tmp_path / "urlstore")
    webops.write_url_index(build, idx, "url", max_per_domain=4)

    b1 = [(1, "https://a.com/x"),            # accepted (a.com -> 3)
          (2, "HTTP://A.COM/seed0"),         # seen (dup of build)
          (3, "https://b.com/p1")]           # accepted (b.com -> 1)
    b2 = [(4, "https://a.com/y"),            # accepted (a.com -> 4 FULL)
          (5, "https://b.com/p2")]           # accepted (b.com -> 2)
    b3 = [(6, "https://a.com/x"),            # re-send of 1 -> url_seen
          (7, "https://b.com/p1?utm_s=1"),   # normalizes to 3 -> seen
          (8, "https://a.com/fresh"),        # fresh but a.com FULL
          (9, "https://b.com/p3"),           # accepted
          (10, "HTTP://A.COM/seed0")]        # still seen
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    import os

    for i, rows in enumerate([b1, b2, b3]):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [x[0] for x in rows],
                    "url": [x[1] for x in rows],
                }
            ),
            str(in_dir / f"b{i}.parquet"),
        )
        os.utime(
            str(in_dir / f"b{i}.parquet"),
            (1700000000 + i, 1700000000 + i),
        )

    trails = []

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        trails.append(
            pipelines.ingest_micro_batch(
                spark, batch_df, id_col="doc_id",
                url_index_path=idx, url_col="url",
            ).collect()
        )

    stream = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(trails) == 3
    t = {r.doc_id: r for batch in trails for r in batch}
    # batch 1: 1 and 3 admitted, 2 seen
    assert t[1].accepted and t[3].accepted
    assert t[2].url_seen and not t[2].accepted
    # batch 2: both admitted (a.com reaches its cap of 4)
    assert t[4].accepted and t[5].accepted
    # batch 3: re-sent accepted URLs are caught — exact and
    # normalization-equivalent forms alike
    assert t[6].url_seen and t[7].url_seen and t[10].url_seen
    # the domain filled MID-STREAM: fresh URL, full budget
    assert t[8].domain_full and not t[8].url_seen
    assert not t[8].accepted
    # b.com still has room
    assert t[9].accepted
    # seen-set grew by exactly the accepted new urls (2 build + 5)
    stored = spark.read.option("recursiveFileLookup", "true").parquet(
        idx + "/urls"
    )
    assert stored.distinct().count() == 7


def test_signed_merge_equals_text_recompute_merge(spark, sf_dir, tmp_path):
    """merge_dedup_index(signed=...) appends EXACTLY the rows the
    text-recompute path would (the r16 shared-signed-frame ingest
    optimization must not change the stored index by a byte), and
    screen_against_index(incoming_signed=...) returns exactly the
    plain screen's pairs."""
    from ontology_graph_etl_spark.io import load_table
    from ontology_graph_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").limit(300)
    ref = docs.where("doc_id % 3 != 0")
    batch = docs.where("doc_id % 3 = 0")
    p_a = str(tmp_path / "a")
    p_b = str(tmp_path / "b")
    for p in (p_a, p_b):
        dedup.write_dedup_index(
            dedup.prepare_dedup_index(
                ref, "doc_id", "text",
                num_hashes=32, bands=8, shingle_n=3, base_hash="md5",
            ),
            p, num_hashes=32, bands=8, shingle_n=3, base_hash="md5",
        )
    _, params = dedup.read_dedup_index(spark, p_a)
    signed = dedup.signed_minhash_frame(
        batch, "doc_id", "text",
        num_hashes=int(params["num_hashes"]),
        shingle_n=int(params["shingle_n"]),
        base_hash=str(params["base_hash"]),
    )
    plain = sorted(
        map(tuple, dedup.screen_against_index(
            spark, p_a, batch, "doc_id", "text", threshold=0.4
        ).collect())
    )
    shared = sorted(
        map(tuple, dedup.screen_against_index(
            spark, p_a, batch, "doc_id", "text", threshold=0.4,
            incoming_signed=signed,
        ).collect())
    )
    assert plain == shared
    dedup.merge_dedup_index(spark, p_a, batch, "doc_id", "text")
    dedup.merge_dedup_index(
        spark, p_b, batch, "doc_id", "text", signed=signed
    )
    rows = lambda p: sorted(
        (r.band, r.band_sig, r.doc, tuple(r.shingles))
        for r in spark.read.parquet(p).collect()
    )
    assert rows(p_a) == rows(p_b)
