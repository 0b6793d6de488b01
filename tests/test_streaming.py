"""Streaming parity tests (SURVEY.md §5.2.4): the same operators driven
through Structured Streaming with availableNow triggers, asserting
batch ≡ streaming results, checkpoint restart idempotency, and the
watermarked windowed aggregation mode (B18)."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.cdc import mv_users, unwrap
from postgre_to_clickhouse_spark.cdc.fixtures import GOLDEN_LATEST, users_cdc_events
from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable
from postgre_to_clickhouse_spark.streaming import pipeline as P


def _latest_map(df):
    return {
        r.user_id: (r.username, r.account_type, r.updated_at.strftime("%Y-%m-%d %H:%M:%S"))
        for r in df.collect()
    }


def test_streaming_pipeline_matches_batch_golden(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t = ManifestTable(str(tmp_path / "tbl"))
    P.write_events_as_json(users_cdc_events(spark), src, n_files=3)  # 3 micro-batches
    P.run_pipeline(spark, src, t.merge_upsert(), ckpt)
    assert _latest_map(t.read_latest(spark)) == GOLDEN_LATEST
    # all-versions view matches the batch pipeline applied directly
    assert t.read(spark).count() == 6  # GOLDEN_ALL_VERSIONS cardinality


def test_streaming_restart_is_idempotent(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t = ManifestTable(str(tmp_path / "tbl"))
    P.write_events_as_json(users_cdc_events(spark), src, n_files=2)
    P.run_pipeline(spark, src, t.merge_upsert(), ckpt)
    n1, v1 = t.read(spark).count(), t.current_version()
    P.run_pipeline(spark, src, t.merge_upsert(), ckpt)  # same checkpoint: no new data
    n2, v2 = t.read(spark).count(), t.current_version()
    assert n1 == n2 == 6
    assert v1 == v2  # no micro-batch ran, so nothing was committed


def test_streaming_redelivered_batch_is_idempotent(spark, tmp_path):
    """Replaying the same source into a FRESH checkpoint (simulating
    at-least-once redelivery of every batch) must converge to the same
    table — the upsert merge is deterministic."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t = ManifestTable(str(tmp_path / "tbl"))
    P.write_events_as_json(users_cdc_events(spark), src, n_files=1)
    P.run_pipeline(spark, src, t.merge_upsert(), ckpt)
    P.run_pipeline(spark, src, t.merge_upsert(), ckpt + "_2")  # fresh checkpoint → full replay
    assert t.read(spark).count() == 6
    assert _latest_map(t.read_latest(spark)) == GOLDEN_LATEST


def test_streaming_transform_equals_batch_transform(spark, tmp_path):
    """A27 unification: identical operator chain under read vs readStream."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events = users_cdc_events(spark)
    P.write_events_as_json(events, src, n_files=2)

    batch_out = mv_users(unwrap(events)).orderBy("kafka_offset").collect()

    collected = []
    P.run_pipeline(spark, src, lambda df, bid: collected.extend(df.collect()), ckpt)
    stream_out = sorted(collected, key=lambda r: r.kafka_offset)
    assert [tuple(r) for r in stream_out] == [tuple(r) for r in batch_out]


def test_watermarked_window_agg_stream(spark, tmp_path):
    """B18: tumbling-window count with a watermark over a file stream of
    events; availableNow drain must equal the batch window agg."""
    from postgre_to_clickhouse_spark import catalog
    from tests.conftest import SF_SMALL

    ev = catalog.load(spark, SF_SMALL, "events").select("event_id", "ts", "event_type")
    src = str(tmp_path / "ev")
    ev.coalesce(2).write.json(src)

    batch = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(F.window("ts", "1 hour").start.alias("ws"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .json(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").start.alias("ws"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("winagg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.ws, r.event_type): r.n for r in spark.table("winagg").collect()}
    assert got == batch


# -- Avro-framed streaming with schema evolution (round 4) ------------------
def test_streaming_avro_frames_schema_evolution(spark, tmp_path):
    """Two micro-batch files: v1-schema records then v2 (adds nullable
    email, widens user_id). One streaming query ingests both, the final
    latest-state table carries the reader-schema columns, and replaying
    with the same checkpoint is a no-op (restart idempotency)."""
    from postgre_to_clickhouse_spark.cdc import avro as A
    from postgre_to_clickhouse_spark.cdc import avro_py as AP
    from postgre_to_clickhouse_spark.cdc.schemas import USERS_AVRO_SCHEMA
    from tests.test_avro_framing import USERS_V2_AVRO_SCHEMA

    frames_dir = str(tmp_path / "frames")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    v1 = [
        {"user_id": 1, "username": "ann", "account_type": "free", "updated_at": 10, "created_at": 1},
        {"user_id": 2, "username": "bob", "account_type": "pro", "updated_at": 20, "created_at": 2},
    ]
    v2 = [
        # update of user 1 under the NEW schema (higher updated_at wins)
        {"user_id": 1, "username": "ann2", "account_type": "pro", "updated_at": 15,
         "created_at": 1, "email": "ann@example.org"},
        {"user_id": 3, "username": "cat", "account_type": "free", "updated_at": 30,
         "created_at": 3, "email": None},
    ]
    f1 = [(bytearray(A.frame(AP.encode_record(r, USERS_AVRO_SCHEMA), 1)),) for r in v1]
    f2 = [(bytearray(A.frame(AP.encode_record(r, USERS_V2_AVRO_SCHEMA), 2)),) for r in v2]
    spark.createDataFrame(f1, "value binary").coalesce(1).write.mode("append").parquet(frames_dir)
    spark.createDataFrame(f2, "value binary").coalesce(1).write.mode("append").parquet(frames_dir)

    schemas = {1: USERS_AVRO_SCHEMA, 2: USERS_V2_AVRO_SCHEMA}
    P.run_pipeline_avro_frames(spark, frames_dir, table, ckpt, schemas, USERS_V2_AVRO_SCHEMA)

    t = ManifestTable(table)
    final = t.read_latest(spark, version_cols=("updated_at",))
    got = {r.user_id: (r.username, r.email) for r in final.collect()}
    assert got == {1: ("ann2", "ann@example.org"), 2: ("bob", None), 3: ("cat", None)}

    v_before, n_before = t.current_version(), t.read(spark).count()
    # restart with the SAME checkpoint: source fully drained -> no commit
    P.run_pipeline_avro_frames(spark, frames_dir, table, ckpt, schemas, USERS_V2_AVRO_SCHEMA)
    assert (t.current_version(), t.read(spark).count()) == (v_before, n_before)


def test_stream_stream_interval_join(spark, tmp_path):
    """B18 depth: watermarked stream-stream INNER join with an interval
    condition (view -> click by the same user within 1 hour). The
    availableNow drain must produce exactly the batch join. State shape
    at scale: both sides keyed by user, retention bounded by watermark +
    interval — state is O(events in the window), never the full stream."""
    from postgre_to_clickhouse_spark import catalog
    from tests.conftest import SF_SMALL

    ev = catalog.load(spark, SF_SMALL, "events").select("event_id", "ts", "user_id", "event_type")
    views = ev.filter("event_type = 'view'").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views.coalesce(2).write.json(vsrc)
    clicks.coalesce(2).write.json(csrc)

    cond = "user_id = c_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR"
    batch = sorted((r.view_id, r.click_id) for r in views.join(clicks, F.expr(cond)).collect())
    assert batch, "fixture produced no view->click pairs — widen the interval"

    sv = (
        spark.readStream.schema("user_id long, v_ts timestamp, view_id long")
        .json(vsrc).withWatermark("v_ts", "2 hours")
    )
    sc_ = (
        spark.readStream.schema("c_user long, c_ts timestamp, click_id long")
        .json(csrc).withWatermark("c_ts", "2 hours")
    )
    q = (
        sv.join(sc_, F.expr(cond))
        .writeStream.outputMode("append").format("memory").queryName("ssjoin")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r.view_id, r.click_id) for r in spark.table("ssjoin").collect())
    assert got == batch


def test_quality_classifier_scores_stream_equals_batch(spark, tmp_path):
    """r15, A27 unification for the new quality classifier: scoring
    is MAP-ONLY against a literal weight vector, so the identical
    column expression runs unchanged under Structured Streaming — fit
    once on a labeled batch, score a stream, and every (doc, score,
    keep) matches the batch scoring row-for-row."""
    import os

    from pyspark.sql import functions as F

    from postgre_to_clickhouse_spark.operators.quality_clf import (
        fit_quality_classifier,
        score_quality,
    )

    rows = [(i, "alpha beta gamma alpha", True) for i in range(8)]
    rows += [(i, "zulu yankee xray victor", False) for i in range(8, 16)]
    labeled = spark.createDataFrame(
        rows, "doc_id long, text string, label boolean")
    w, bias = fit_quality_classifier(labeled, n_buckets=128)

    src = os.path.join(str(tmp_path), "docs")
    docs = labeled.select("doc_id", "text")
    docs.write.json(src)
    batch = {r["doc_id"]: (r["qclf_score_q"], r["qclf_keep"])
             for r in score_quality(docs, w, bias, n_buckets=128).collect()}

    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        score_quality(stream, w, bias, n_buckets=128)
        .writeStream.outputMode("append").format("memory")
        .queryName("qclf_stream")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"]: (r["qclf_score_q"], r["qclf_keep"])
           for r in spark.sql("SELECT * FROM qclf_stream").collect()}
    assert got == batch and len(got) == 16
    assert all(got[i][1] == 1 for i in range(8))
    assert all(got[i][1] == 0 for i in range(8, 16))


def test_kn_trigram_scores_stream_equals_batch(spark, tmp_path):
    """r16, A27 unification for the modified-KN trigram scorer: the
    model is a TYPE table fit batch-side; scoring a stream is the
    stream-static inner join plus a per-doc aggregation, so the same
    construction the batch operator uses runs under Structured
    Streaming (complete mode) and every (doc, n_trigrams, nll)
    matches the batch scores row-for-row."""
    import os
    import random

    from pyspark.sql import functions as F

    from postgre_to_clickhouse_spark.operators.kn_lm import (
        _trigram_triples,
        kn_modified_trigram_model,
        kn_modified_trigram_scores,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    weights = [1.0 / (k + 1) for k in range(30)]
    rows = [(i, " ".join(rng.choices(vocab, weights=weights, k=15)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model, _stats = kn_modified_trigram_model(
        _trigram_triples(docs, "text", "doc_id"), discount_fallback=True)
    model = model.select("a", "b", "c", "lp_q").localCheckpoint(eager=True)
    batch = {r["doc_id"]: (r["n_trigrams"], r["kn3_nll_q"])
             for r in _trigram_triples(docs, "text", "doc_id")
             .join(model, ["a", "b", "c"])
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_trigrams"),
                  F.sum("lp_q").cast("bigint").alias("kn3_nll_q"))
             .collect()}
    # sanity: the composed construction IS the operator's
    op = {r["doc_id"]: (r["n_trigrams"], r["kn3_nll_q"])
          for r in kn_modified_trigram_scores(
              docs, discount_fallback=True).collect()}
    assert batch == op

    src = os.path.join(str(tmp_path), "kn_docs")
    docs.write.json(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        _trigram_triples(stream, "text", "doc_id")
        .join(model, ["a", "b", "c"])  # stream-static inner join
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_trigrams"),
             F.sum("lp_q").cast("bigint").alias("kn3_nll_q"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("kn_stream")
        .option("checkpointLocation", os.path.join(str(tmp_path), "kn_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"]: (r["n_trigrams"], r["kn3_nll_q"])
           for r in spark.sql("SELECT * FROM kn_stream").collect()}
    assert got == batch and len(got) == 40
