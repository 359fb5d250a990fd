"""Structured Streaming surface (ST1-ST5): file-stream replay of the
events table with availableNow triggers into memory sinks; streaming
results cross-checked against the equivalent batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream(spark):
    from market_insights_app_spark.streaming.ingest import events_file_stream

    return events_file_stream(spark, SF)


def _batch_events(spark):
    from market_insights_app_spark.sources.tables import load_table

    return load_table(spark, SF, "events")


def test_stream_is_streaming(stream):
    assert stream.isStreaming


def _assert_window_agg_matches_batch(spark, agg, sink, *window):
    from market_insights_app_spark.streaming.ingest import run_available_now_to_memory

    run_available_now_to_memory(agg, sink, "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    batch = (
        _batch_events(spark)
        .groupBy(F.window("ts", *window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()}
    # availableNow + watermark may hold back the final (open) windows;
    # everything emitted must match batch, and coverage must be near-total.
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) * 0.9


def test_tumbling_agg_matches_batch(spark, stream):
    from market_insights_app_spark.streaming.ingest import sliding_agg, tumbling_agg

    _assert_window_agg_matches_batch(
        spark, tumbling_agg(stream), "t_tumbling", "15 minutes"
    )
    _assert_window_agg_matches_batch(
        spark, sliding_agg(stream), "t_sliding", "30 minutes", "15 minutes"
    )


def test_stream_dedup_drops_duplicates(spark):
    from market_insights_app_spark.streaming.ingest import run_available_now_to_memory, with_dedup

    # duplicate every event by unioning the stream source twice via two
    # file streams of the same path is not possible in one query; instead
    # dedup on a coarse key so in-stream collisions exist.
    from market_insights_app_spark.streaming.ingest import events_file_stream

    s = events_file_stream(spark, SF)
    deduped = with_dedup(s, ["user_id", "event_type"])
    run_available_now_to_memory(deduped, "t_dedup", "append")
    n = spark.sql("SELECT count(*) c FROM t_dedup").collect()[0]["c"]
    distinct = (
        _batch_events(spark).select("user_id", "event_type").distinct().count()
    )
    assert n == distinct


def test_session_agg_runs(spark, stream):
    from market_insights_app_spark.streaming.ingest import (
        run_available_now_to_memory,
        session_agg,
    )

    run_available_now_to_memory(session_agg(stream), "t_session", "append")
    rows = spark.sql("SELECT * FROM t_session").collect()
    # closed sessions only (watermark); all emitted sessions must be valid
    for r in rows:
        assert r["session_end"] > r["session_start"] and r["n"] >= 1


def test_idempotent_append_batch(spark, tmp_path):
    """Insert-if-absent of an observation batch (D1, db.py:253-259):
    an in-batch duplicate lands once and redelivery is a no-op."""
    from market_insights_app_spark.storage.txnlog import TxnTable

    table = TxnTable(spark, str(tmp_path / "prices"))
    keys = ["symbol", "as_of", "source"]
    b1 = spark.createDataFrame(
        [("A", 1, "s", 1.0), ("A", 1, "s", 1.0), ("B", 2, "s", 2.0)],
        "symbol string, as_of long, source string, price double",
    )
    table.merge(b1, keys)
    assert table.read().count() == 2  # in-batch dup dropped
    table.merge(b1, keys)
    assert table.read().count() == 2
    b2 = spark.createDataFrame(
        [("A", 9, "s", 3.0)], "symbol string, as_of long, source string, price double"
    )
    table.merge(b2, keys)
    assert table.read().count() == 3


def test_media_decode_fake_and_stub(spark):
    from market_insights_app_spark.operators.multimodal import decode_media

    media = spark.createDataFrame(
        [(1, 2, "image", "image/png", bytearray(b"\x00\x10\x20"), None, None, None)],
        "media_id long, doc_id long, kind string, mime string, payload binary, "
        "width int, height int, duration_ms long",
    )
    r = decode_media(media, fake=True).collect()[0]
    assert r["n_bytes"] == 3 and r["feat_mean"] == pytest.approx((0 + 16 + 32) / 3)
    with pytest.raises(Exception, match="NotImplementedError|decode requires"):
        decode_media(media, fake=False).collect()


def test_frame_sample_plan(spark):
    from market_insights_app_spark.operators.multimodal import frame_sample_plan

    media = spark.createDataFrame(
        [(1, None, "video", "video/mp4", None, None, None, 3500)],
        "media_id long, doc_id long, kind string, mime string, payload binary, "
        "width int, height int, duration_ms long",
    )
    frames = [r["frame_ms"] for r in frame_sample_plan(media, every_ms=1000).collect()]
    assert frames == [0, 1000, 2000, 3000]


def test_ema_stateful(spark):
    """applyInPandasWithState: per-key EMA carried across batches;
    final state must equal the sequential Python EMA over the ordered
    series."""
    from market_insights_app_spark.sources.tables import load_table
    from market_insights_app_spark.streaming.ingest import (
        ema_stateful,
        events_file_stream,
        run_available_now_to_memory,
    )

    s = events_file_stream(spark, SF)
    run_available_now_to_memory(ema_stateful(s), "t_ema", "append")
    rows = spark.sql("SELECT * FROM t_ema").collect()
    # one emission per key per batch; keep the last per key
    last = {}
    for r in rows:
        last[r["key"]] = (r["ema"], r["n_seen"])
    batch = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    expect = {}
    for r in batch:
        ema, n = expect.get(r["user_id"], (None, 0))
        v = float(r["value"])
        ema = v if ema is None else 0.2 * v + 0.8 * ema
        expect[r["user_id"]] = (ema, n + 1)
    assert set(last) == set(expect)
    for k, (ema, n) in expect.items():
        assert last[k][1] == n
        assert last[k][0] == pytest.approx(ema, rel=1e-9)


def _session_stream(spark, src_dir):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)


def _write_events(spark, src_dir, fname, rows):
    """Write one FLAT parquet file into the stream source dir (the file
    source does not recurse into write-produced subdirectories)."""
    import datetime as dt
    import glob
    import pathlib
    import shutil
    import tempfile

    data = [(k, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec), v)
            for k, sec, v in rows]
    with tempfile.TemporaryDirectory() as tmp:
        out = tmp + "/out"
        spark.createDataFrame(data, "user_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(out)
        part = glob.glob(out + "/part-*.parquet")[0]
        pathlib.Path(src_dir).mkdir(parents=True, exist_ok=True)
        shutil.copy(part, str(pathlib.Path(src_dir) / fname))


def test_session_builder_event_close(spark, tmp_path):
    """Stateful session builder: sessions split at >= gap within and
    ACROSS micro-batches (maxFilesPerTrigger=1 → one batch per file);
    the open tail session stays in state, closed ones emit exactly once
    with session_window-style end = last + gap."""
    from market_insights_app_spark.streaming.ingest import (
        run_available_now_to_memory,
        session_builder_stateful,
    )

    src = tmp_path / "src"
    gap = 600  # 10 min
    # batch 1: key 1 → session A (0s, 10s), then >gap later session B (1000s)
    _write_events(spark, str(src), "f1.parquet", [(1, 0, 1.0), (1, 10, 2.0), (1, 1000, 5.0)])
    # batch 2: key 1 event >gap after 1000 → closes session B; key 2 opens
    _write_events(spark, str(src), "f2.parquet", [(1, 2000, 7.0), (2, 0, 9.0)])
    sessions = session_builder_stateful(
        _session_stream(spark, str(src)), gap_seconds=gap, timeout_ms=None
    )
    run_available_now_to_memory(sessions, "t_sessions", "append")
    got = sorted(
        (r["key"], r["session_start_us"], r["session_end_us"], r["n"],
         r["sum_value"], r["closed_by"])
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    )
    base = 1704067200_000000  # 2024-01-01T00:00:00Z µs
    gap_us = gap * 1_000_000
    assert got == [
        (1, base, base + 10_000000 + gap_us, 2, 3.0, "event"),          # session A
        (1, base + 1000_000000, base + 1000_000000 + gap_us, 1, 5.0, "event"),  # session B
    ]


def test_session_builder_timeout_close(spark, tmp_path):
    """Quiet keys flush their open session via processing-time timeout
    (closed_by='timeout') — emitted-on-timeout semantics the built-in
    session_window cannot express without watermark advance."""
    import time

    from market_insights_app_spark.streaming.ingest import session_builder_stateful

    src = tmp_path / "src"
    _write_events(spark, str(src), "f1.parquet", [(1, 0, 1.0), (1, 5, 2.0)])
    sessions = session_builder_stateful(
        _session_stream(spark, str(src)), gap_seconds=600, timeout_ms=1000
    )
    q = (
        sessions.writeStream.format("memory").queryName("t_sess_timeout")
        .outputMode("append").trigger(processingTime="500 milliseconds").start()
    )
    # NB: do NOT processAllAvailable() here — under ProcessingTimeTimeout
    # the periodic "no new data but cleaning up state" cycles keep it
    # from ever settling. Poll the sink instead; the timeout fires on a
    # later empty trigger once the key has been quiet for timeout_ms.
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM t_sess_timeout WHERE closed_by = 'timeout'"
            ).collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert (r["key"], r["n"], r["sum_value"]) == (1, 2, 3.0)


def test_foreachbatch_ingest_pipeline(spark, tmp_path):
    """S2+S4+ST2 end-to-end: a stream of raw FX payloads → from_json
    normalize → TxnTable MERGE via foreachBatch — the full
    POST /ingest/fx path (SURVEY §3.2) as a streaming pipeline.
    Includes a duplicate redelivery and an erroneous payload."""
    import json

    from market_insights_app_spark.sources.http_quotes import parse_alpha_vantage_fx
    from market_insights_app_spark.storage.txnlog import TxnTable

    def fx_payload(pair, rate, refreshed):
        return json.dumps(
            {
                "Realtime Currency Exchange Rate": {
                    "1. From_Currency Code": pair[:3],
                    "3. To_Currency Code": pair[3:],
                    "5. Exchange Rate": str(rate),
                    "6. Last Refreshed": refreshed,
                }
            }
        )

    src = str(tmp_path / "payloads")
    table = TxnTable(spark, str(tmp_path / "prices"))
    import os

    os.makedirs(src)
    with open(f"{src}/batch1.json", "w") as f:
        f.write(fx_payload("EURUSD", 1.08, "2024-03-01 10:00:00") + "\n")
        f.write(fx_payload("EURUSD", 1.08, "2024-03-01 10:00:00") + "\n")  # dup
        f.write(fx_payload("GBPUSD", 1.27, "2024-03-01 10:00:00") + "\n")
        f.write('{"Note": "rate limited"}' + "\n")  # error payload

    raw = (
        spark.readStream.schema("payload string")
        .text(src)
        .withColumnRenamed("value", "payload")
    )

    def sink(batch, batch_id):
        parsed = parse_alpha_vantage_fx(batch)
        good = parsed.filter(F.col("error").isNull()).drop("error")
        table.merge(good, ["symbol", "as_of", "source"])

    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = table.read()
    assert out.count() == 2  # dup collapsed, error row filtered
    assert {r["symbol"] for r in out.collect()} == {"EURUSD", "GBPUSD"}

    # late redelivery in a new file: same observations → no-op; one new
    with open(f"{src}/batch2.json", "w") as f:
        f.write(fx_payload("EURUSD", 1.08, "2024-03-01 10:00:00") + "\n")
        f.write(fx_payload("EURUSD", 1.09, "2024-03-01 11:00:00") + "\n")
    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert table.read().count() == 3


def test_cross_batch_dedup_and_late_data(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): a duplicate natural key
    redelivered in batch 2 must be dropped by the cross-batch dedup
    state; a late-but-within-watermark event must still be accepted
    (the reference accepts late data unconditionally — ST3; our
    documented deviation is the watermark horizon, which this stays
    inside)."""
    import datetime as dt
    import os

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows, name):
        df = spark.createDataFrame(
            rows, "symbol string, as_of timestamp, source string, price double"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    mk([("A", base, "s", 1.0), ("B", base, "s", 2.0)], "f1")
    mk(
        [
            ("A", base, "s", 1.0),  # exact redelivery → dropped
            ("A", base - dt.timedelta(minutes=30), "s", 0.9),  # late, new key → kept
            ("C", base + dt.timedelta(minutes=1), "s", 3.0),
        ],
        "f2",
    )

    stream = (
        spark.readStream.schema("symbol string, as_of timestamp, source string, price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    deduped = stream.withWatermark("as_of", "2 hours").dropDuplicates(
        ["symbol", "as_of", "source"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT symbol, as_of, price FROM t_xbatch").collect()
    got = {(r["symbol"], r["as_of"]): r["price"] for r in rows}
    assert len(got) == 4  # A@noon, B@noon, A@11:30 (late), C@12:01
    assert got[("A", base)] == 1.0
    assert got[("A", base - dt.timedelta(minutes=30))] == 0.9


def test_latest_wins_batch_sink(spark, tmp_path):
    """Keyed state view (D4): each merged batch replaces its keys'
    rows; keys it does not carry survive."""
    from market_insights_app_spark.storage.txnlog import TxnTable

    table = TxnTable(spark, str(tmp_path / "state"))
    schema = "token string, email string, version long"
    b1 = spark.createDataFrame([("t1", "a@x", 1), ("t2", "b@x", 1)], schema)
    table.merge(b1, ["token"])
    b2 = spark.createDataFrame([("t1", "a2@x", 2), ("t3", "c@x", 1)], schema)
    table.merge(b2, ["token"])
    got = {r["token"]: (r["email"], r["version"]) for r in table.read().collect()}
    assert got == {"t1": ("a2@x", 2), "t2": ("b@x", 1), "t3": ("c@x", 1)}


def test_interval_join_stream_matches_batch(spark, stream):
    """Stream-stream purchase→click attribution join == the batch
    range_join twin (plans.core.q_click_attribution) on the same data."""
    from market_insights_app_spark.plans.core import q_click_attribution
    from market_insights_app_spark.streaming.ingest import (
        interval_join_stream,
        run_available_now_to_memory,
    )

    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    joined = interval_join_stream(
        purchases, clicks, "p_user", "c_user", "pts", "cts",
        within="30 minutes", watermark="10 minutes",
    ).select("purchase_id", "click_id")
    run_available_now_to_memory(joined, "t_interval_join", "append")
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM t_interval_join").collect()
    }
    want = {
        (r["purchase_id"], r["click_id"])
        for r in q_click_attribution(spark, SF).collect()
    }
    # single availableNow pass: nothing is dropped by the watermark
    # (state eviction only removes rows that can no longer match)
    assert got == want
    assert len(got) > 0


def test_bilinear_resize_golden():
    """Identity, constant-fill, and a real interpolating downscale —
    hand-checked half-pixel-center math (no Spark needed)."""
    import numpy as np

    from market_insights_app_spark.operators.multimodal import bilinear_resize

    img = np.array([[[0], [100]], [[200], [40]]], dtype=np.uint8).repeat(3, axis=2)
    assert (bilinear_resize(img, 2, 2) == img).all()  # identity

    one = np.full((1, 1, 3), 77, dtype=np.uint8)
    assert (bilinear_resize(one, 3, 3) == 77).all()  # constant fill

    # 4x4 with per-row constant values 0,40,80,120 → 2x2 rows sample at
    # y=0.5 and y=2.5: midpoints 20 and 100
    grad = np.zeros((4, 4, 3), dtype=np.uint8)
    for r in range(4):
        grad[r, :, :] = r * 40
    out = bilinear_resize(grad, 2, 2)
    assert (out[0] == 20).all() and (out[1] == 100).all()


def test_resize_media_and_channel_features(spark):
    import numpy as np

    from market_insights_app_spark.operators.multimodal import (
        fake_decode_image,
        image_channel_features,
        resize_media,
    )

    payload = bytes(range(192))  # exactly fills 8x8x3
    media = spark.createDataFrame(
        [(1, "image", payload, None, None)],
        "media_id long, kind string, payload binary, width int, height int",
    )
    r = resize_media(media, 4, 4, fake=True).collect()[0]
    assert (r["width"], r["height"]) == (4, 4)
    assert len(r["pixels"]) == 4 * 4 * 3
    # the kernel output equals the reference composition run locally
    want = fake_decode_image(payload, None, None)
    from market_insights_app_spark.operators.multimodal import bilinear_resize

    assert r["pixels"] == bilinear_resize(want, 4, 4).tobytes()

    f = image_channel_features(media, fake=True).collect()[0]
    tiled = np.arange(192, dtype=np.float64).reshape(8, 8, 3)
    for i, ch in enumerate("rgb"):
        assert abs(f[f"mean_{ch}"] - tiled[:, :, i].mean()) < 1e-9
        assert abs(f[f"std_{ch}"] - tiled[:, :, i].std()) < 1e-9


def test_audio_features_golden(spark):
    from market_insights_app_spark.operators.multimodal import audio_features

    media = spark.createDataFrame(
        [(1, "audio", bytes([0, 255, 0, 255])), (2, "audio", bytes([128, 128]))],
        "media_id long, kind string, payload binary",
    )
    out = {r["media_id"]: r for r in audio_features(media, fake=True).collect()}
    assert out[1]["n_samples"] == 4
    assert abs(out[1]["rms"] - 1.0) < 1e-9   # alternating full-scale
    assert abs(out[1]["zcr"] - 1.0) < 1e-9   # sign flips every sample
    assert out[2]["zcr"] == 0.0

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|PIL|ffmpeg"):
        audio_features(media, fake=False).collect()


def _committed_dirs_only(table):
    """Every data directory on disk is one some commit added: a losing
    writer's staging and its stale rewrites are gone."""
    import os

    committed = {a["dir"] for c in table.history() for a in c["add"]}
    on_disk = {f"data/{d}" for d in os.listdir(os.path.join(table.path, "data"))}
    return on_disk == committed


def _merge_concurrently(spark, path, batches, key_cols):
    from concurrent.futures import ThreadPoolExecutor

    from market_insights_app_spark.storage.txnlog import TxnTable

    def w(b):
        TxnTable(spark, path).merge(b, key_cols, max_retries=50)

    with ThreadPoolExecutor(max_workers=len(batches)) as ex:
        for f in [ex.submit(w, b) for b in batches]:
            f.result()
    return TxnTable(spark, path)


def test_idempotent_append_concurrent_writers(spark, tmp_path):
    """Two writers merging the SAME batch at once (a redelivered
    micro-batch racing its original) must not insert duplicate keys."""
    batch = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["k", "v"])
    table = _merge_concurrently(spark, str(tmp_path / "merge_target"), [batch, batch], ["k"])
    got = table.read()
    assert got.count() == 50
    assert got.select("k").distinct().count() == 50
    assert _committed_dirs_only(table)


def test_latest_wins_batch_concurrent_writers(spark, tmp_path):
    """Two writers of the same keys with different batches: the table
    ends with exactly one row per key, all from the writer that
    committed last (merges are atomic, never a per-key mix), and no
    leftover staging directories."""
    b1 = spark.createDataFrame([(i, 1, f"a{i}") for i in range(20)], ["k", "ver", "v"])
    b2 = spark.createDataFrame([(i, 2, f"b{i}") for i in range(20)], ["k", "ver", "v"])
    table = _merge_concurrently(spark, str(tmp_path / "state_target"), [b1, b2], ["k"])
    got = table.read()
    assert got.count() == 20
    assert got.select("k").distinct().count() == 20
    assert got.select("ver").distinct().count() == 1
    assert _committed_dirs_only(table)


def test_streaming_ohlc_matches_batch_operator(spark, stream):
    """Streaming OHLC (min_by/max_by incremental aggregate) must equal
    the batch ohlc_bars operator (row_number selection) on the same
    replayed data — the two formulations agree on the (ts, id) total
    order."""
    from market_insights_app_spark.operators.market import ohlc_bars
    from market_insights_app_spark.streaming.ingest import (
        ohlc_agg,
        run_available_now_to_memory,
    )

    run_available_now_to_memory(ohlc_agg(stream), "t_ohlc", "append")
    got = {
        (r["bucket_ts"], r["user_id"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"]
        )
        for r in spark.sql("SELECT * FROM t_ohlc").collect()
    }
    batch = ohlc_bars(_batch_events(spark))
    want = {
        (r["bucket_ts"], r["user_id"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"]
        )
        for r in batch.collect()
    }
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) * 0.9
