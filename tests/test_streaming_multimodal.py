"""Streaming twins equal batch results; multimodal plumbing works
end-to-end (SURVEY.md §2.6, §2.7)."""

import pytest

from tests.conftest import SF_DIR


def test_stream_tumbling_equals_batch(spark):
    from postgres_s3_etl_spark.operators.events import q_events_tumbling
    from postgres_s3_etl_spark.streaming.events_stream import (
        run_stream_to_memory,
        stream_events_tumbling,
    )

    batch = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in q_events_tumbling(spark, SF_DIR).collect()
    }
    streamed = run_stream_to_memory(
        stream_events_tumbling(spark, SF_DIR), "tumbling_test"
    ).collect()
    got = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in streamed
    }
    # The watermark holds back windows newer than (max_ts - 2h) in
    # availableNow mode; everything emitted must match batch exactly,
    # and coverage must be nearly complete.
    assert got, "stream produced no windows"
    for k, v in got.items():
        assert batch[k] == v, k
    assert len(got) >= len(batch) - 4


def test_stream_sessionize_stateful(spark):
    from postgres_s3_etl_spark.streaming.events_stream import (
        run_stream_to_memory,
        stream_sessionize_stateful,
    )

    sessions = run_stream_to_memory(
        stream_sessionize_stateful(spark, SF_DIR), "sessions_test"
    ).collect()
    assert sessions, "no closed sessions emitted"
    for s in sessions:
        assert s.session_end >= s.session_start
        assert s.n_events >= 1
    # Closed sessions (gap-separated) must match the batch count for
    # the same users minus at most one open session per user.
    from postgres_s3_etl_spark.operators.events import q_events_sessionize

    batch_total = q_events_sessionize(spark, SF_DIR).collect()[0].n_sessions
    users = {s.user_id for s in sessions}
    assert len(sessions) >= batch_total - len(users)


def test_native_session_window_matches_stateful(spark):
    """The engine-managed session_window and the hand-rolled
    applyInPandasWithState sessionizer must agree on every emitted
    session (native end = stateful end + gap), modulo emission
    timing: the stateful operator also closes a session when a LATER
    session for the same user arrives, so its emitted set is a
    superset."""
    import datetime as dt

    from postgres_s3_etl_spark.streaming.events_stream import (
        SESSION_GAP_MS,
        run_stream_to_memory,
        stream_session_window_native,
        stream_sessionize_stateful,
    )

    native = run_stream_to_memory(
        stream_session_window_native(spark, SF_DIR), "native_sess_test"
    ).collect()
    stateful = run_stream_to_memory(
        stream_sessionize_stateful(spark, SF_DIR), "stateful_sess_test"
    ).collect()
    assert native
    gap = dt.timedelta(milliseconds=SESSION_GAP_MS)

    def ms(t):  # the stateful operator's state is epoch-ms grain
        return t.replace(microsecond=t.microsecond // 1000 * 1000)

    st = {
        (s.user_id, ms(s.session_start), ms(s.session_end) + gap,
         s.n_events)
        for s in stateful
    }
    nat = {
        (s.user_id, ms(s.session_start), ms(s.session_end), s.n_events)
        for s in native
    }
    assert nat <= st, sorted(nat - st)[:3]


def test_tws_sessionize_gated_or_identical(spark):
    """TransformWithState twin: where the environment supports it,
    output must equal the applyInPandasWithState sessionizer; where
    it doesn't (no protobuf), the gate must raise the documented
    error rather than crash mid-stream."""
    from postgres_s3_etl_spark.streaming.events_stream import (
        QUERIES,
        run_stream_to_memory,
        stream_sessionize_tws,
        tws_available,
    )

    sf = "/root/testdata/sf0.001"
    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            stream_sessionize_tws(spark, sf)
        return
    tws = run_stream_to_memory(
        stream_sessionize_tws(spark, sf), "tws_sessions"
    ).collect()
    old = QUERIES["stream_sessionize_stateful"](spark, sf).collect()
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)  # noqa: E731
    assert sorted(map(key, tws)) == sorted(map(key, old))


def test_stream_exact_dedup_equals_distinct(spark):
    """Streaming dropDuplicates over the key columns emits exactly
    the batch DISTINCT set (arrival order unobservable)."""
    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        run_stream_to_memory,
        stream_exact_dedup,
    )

    streamed = {
        (r.user_id, r.event_type)
        for r in run_stream_to_memory(
            stream_exact_dedup(spark, SF_DIR), "dedup_test"
        ).collect()
    }
    batch = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert streamed == batch


def test_scd2_intervals_are_contiguous(spark):
    """SCD2 invariants: per customer, version k's valid_to equals
    version k+1's valid_from, exactly one current row, adjacent
    versions change priority, and n_orders sums to the order count."""
    from postgres_s3_etl_spark.operators.scd import q_scd2_customer_priority
    from postgres_s3_etl_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = q_scd2_customer_priority(spark, SF_DIR).collect()
    by_cust: dict = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for cust, hist in by_cust.items():
        hist.sort(key=lambda r: r.version)
        assert [r.version for r in hist] == list(range(1, len(hist) + 1))
        assert sum(r.is_current for r in hist) == 1
        assert hist[-1].is_current and hist[-1].valid_to is None
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to == b.valid_from, cust
            assert a.priority != b.priority, cust
    n_orders = (
        load_table(spark, SF_DIR, "orders")
        .where(F.col("o_custkey") < 100)
        .count()
    )
    assert sum(r.n_orders for r in rows) == n_orders


def test_multimodal_feature_extraction(spark):
    from postgres_s3_etl_spark.operators.multimodal import (
        extract_features,
        media_stats,
        synth_media,
    )

    media = synth_media(spark, n=64)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 64
    # Deterministic features: same payload → same digest/features.
    again = {r.asset_id: (r.payload_digest, r.f0) for r in extract_features(media).collect()}
    for r in rows:
        assert again[r.asset_id] == (r.payload_digest, r.f0)
    stats = media_stats(feats).collect()
    assert {s.media_type for s in stats} == {"image", "audio", "video"}
    assert all(s.n_distinct_payloads == s.n_assets for s in stats)


def test_multimodal_metadata_pruning_skips_decode(spark):
    """Filtering on metadata before extract_features must prune rows
    before the Python stage — decode never sees filtered assets."""
    from postgres_s3_etl_spark.operators.multimodal import (
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=64).where("media_type = 'image'")
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 22  # ids ≡ 0 mod 3 in 0..63
    assert all(r.media_type == "image" for r in rows)


def test_stream_stream_join_equals_batch(spark):
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        run_stream_to_memory,
        stream_click_purchase_join,
    )

    streamed = run_stream_to_memory(
        stream_click_purchase_join(spark, SF_DIR), "ss_join_test"
    ).collect()
    assert streamed, "stream-stream join produced no matches"

    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select("purchase_id", "click_id")
        .collect()
    )
    # Single-file source → one micro-batch → nothing dropped as late:
    # streamed pairs must equal the batch join exactly.
    assert {(r.purchase_id, r.click_id) for r in streamed} == {
        (r.purchase_id, r.click_id) for r in batch
    }
    assert len(streamed) == len(batch)


def test_frame_sampling_expansion(spark):
    from postgres_s3_etl_spark.operators.multimodal import (
        FRAME_INTERVAL_MS,
        mm_frame_sample,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, n=64)
    frames = sample_frames(media).collect()
    videos = {
        r.asset_id: r.duration_ms
        for r in media.where("media_type = 'video'").collect()
    }
    assert {f.asset_id for f in frames} == set(videos)
    by_asset = {}
    for f in frames:
        by_asset.setdefault(f.asset_id, []).append(f)
    for aid, fs in by_asset.items():
        expected = max(videos[aid] // FRAME_INTERVAL_MS, 1)
        assert len(fs) == expected
        assert sorted(f.frame_idx for f in fs) == list(range(expected))
        # Deterministic digests, distinct per frame.
        assert len({f.frame_digest for f in fs}) == expected
    # mm_frame_sample (round 6): REAL y4m temporal sampling — one
    # frame per 120ms at 25fps, so sampled indices are 0, 3, 6, ...
    # strictly below the stream's frame count.
    from postgres_s3_etl_spark.operators.multimodal import (
        FRAME_SAMPLE_INTERVAL_MS,
        Y4M_FRAME_MS,
        _y4m_planes,
    )

    stride = FRAME_SAMPLE_INTERVAL_MS // Y4M_FRAME_MS
    stats = {r.asset_id: r for r in mm_frame_sample(spark, "unused").collect()}
    assert len(stats) == 48
    for aid, r in stats.items():
        nf = 4 + aid % 5
        sampled = [t for t in range(0, nf, stride)]
        assert r.n_stream_frames == nf
        assert r.n_sampled == len(sampled)
        assert r.last_sample_ts_ms == max(sampled) * Y4M_FRAME_MS
        w, h = 12 + aid % 6, 8 + aid % 4
        exp = sum(int(_y4m_planes(aid, w, h, t)[0].sum()) for t in sampled)
        assert r.sum_y_sampled == exp
        assert r.f0_y_sum == int(_y4m_planes(aid, w, h, 0)[0].sum())


def test_audio_windowing_expansion(spark, duck):
    """mm_audio_windows (round 6): REAL WAV decode end-to-end — the
    exact integer energy stats equal numpy recomputation from the
    closed-form samples, plus the generic window_audio digest arm
    still expands audio assets 1→N."""
    import numpy as np

    from postgres_s3_etl_spark.operators.multimodal import (
        AUDIO_WINDOW_MS,
        N_WAV_ASSETS,
        WAV_RATE,
        _wav_sample,
        mm_audio_windows,
        synth_media,
        window_audio,
    )
    from tests.conftest import assert_matches_oracle

    media = synth_media(spark, n=64)
    wins = window_audio(media).collect()
    assert {w.asset_id for w in wins} == {
        r.asset_id for r in media.where("media_type = 'audio'").collect()
    }
    for w in wins:
        assert 0 <= w.level <= 0xFFFF
        assert w.window_ts_ms == w.window_idx * AUDIO_WINDOW_MS

    stats = {r.asset_id: r for r in mm_audio_windows(spark, "unused").collect()}
    assert len(stats) == N_WAV_ASSETS
    win = WAV_RATE * AUDIO_WINDOW_MS // 1000
    for aid, r in stats.items():
        ns = 1000 + 10 * aid
        s = np.array([_wav_sample(aid, k) for k in range(ns)], dtype=np.int64)
        n_windows = -(-ns // win)
        assert r.n_windows == n_windows
        assert r.last_window_ts_ms == (n_windows - 1) * AUDIO_WINDOW_MS
        assert r.n_samples == ns
        assert r.sum_s == int(s.sum())
        assert r.ssq_s == int((s * s).sum())
        assert r.peak_window_ssq == max(
            int((s[i : i + win] ** 2).sum()) for i in range(0, ns, win)
        )
    assert_matches_oracle(spark, duck, "mm_audio_windows")


def _wav_bytes(samples, rate=8000, nch=1):
    """16-bit PCM WAV container around int16 samples (stdlib only)."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_wav_payloads_get_real_rms_not_digest(spark):
    """PCM WAV assets flow through the REAL decode path: per-window
    levels equal numpy's RMS of the actual samples, windows count
    from the sample stream (not the metadata duration), and non-WAV
    payloads in the same batch still take the digest path."""
    import numpy as np
    from pyspark.sql import Row

    from postgres_s3_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        window_audio,
    )

    rate, window_ms = 8000, 500
    win = rate * window_ms // 1000  # 4000 samples per window
    # 1.25 s ramp: two full windows + one partial (2000 samples).
    ramp = (np.arange(10000) % 1000 - 500).astype("<i2")
    # Stereo constant: L=+300, R=-100 → mono mean 100 → RMS 100.
    stereo = np.empty(2 * win, dtype="<i2")
    stereo[0::2] = 300
    stereo[1::2] = -100
    rows = [
        Row(
            asset_id=0,
            media_type="audio",
            width=0,
            height=0,
            duration_ms=1250,
            payload=bytearray(_wav_bytes(ramp, rate)),
        ),
        Row(
            asset_id=1,
            media_type="audio",
            width=0,
            height=0,
            duration_ms=500,
            payload=bytearray(_wav_bytes(stereo, rate, nch=2)),
        ),
        Row(
            asset_id=2,
            media_type="audio",
            width=0,
            height=0,
            duration_ms=1000,
            payload=bytearray(b"not-a-wav-payload"),
        ),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        (r.asset_id, r.window_idx): r.level
        for r in window_audio(media, window_ms=window_ms).collect()
    }

    mono = ramp.astype(np.float64)
    for i in range(3):
        seg = mono[i * win : (i + 1) * win]
        want = int(round(float(np.sqrt(np.mean(seg * seg)))))
        assert got[(0, i)] == want
    assert got[(1, 0)] == 100  # stereo averaged to mono
    # Non-WAV fell back to the digest stub: 2 windows from duration.
    assert (2, 0) in got and (2, 1) in got and (2, 2) not in got


def test_stream_topk_users_equals_batch(spark):
    """Complete-mode running aggregation's final table equals the
    batch top-k twin row-for-row (exact decimal running sums make
    this independent of micro-batch slicing)."""
    from postgres_s3_etl_spark.operators.events import q_events_topk_users
    from postgres_s3_etl_spark.streaming.events_stream import (
        q_stream_topk_users,
    )

    streamed = [tuple(r) for r in q_stream_topk_users(spark, SF_DIR).collect()]
    batch = [tuple(r) for r in q_events_topk_users(spark, SF_DIR).collect()]
    assert streamed == batch


def test_image_patch_grid_covers_every_image(spark):
    """mm_image_patches (round 6): REAL BMP patch grid — ceil(w/p) ×
    ceil(h/p) patches, ragged edges included, brightness equal to
    numpy recomputation over the decoded pixels; plus the generic
    sample_patches digest arm still emits each (px, py) once."""
    import numpy as np

    from postgres_s3_etl_spark.operators.multimodal import (
        BMP_PATCH_PX,
        N_BMP_ASSETS,
        decode_bmp24,
        encode_bmp24,
        mm_image_patches,
        sample_patches,
        synth_media,
    )

    stats = {r.asset_id: r for r in mm_image_patches(spark, SF_DIR).collect()}
    assert len(stats) == N_BMP_ASSETS
    p = BMP_PATCH_PX
    for a, r in stats.items():
        w, h = 16 + a % 8, 12 + a % 5
        nx, ny = -(-w // p), -(-h // p)
        assert (r.nx, r.ny, r.n_patches) == (nx, ny, nx * ny), a
        px = decode_bmp24(encode_bmp24(a, w, h)).astype(np.int64).sum(axis=2)
        assert r.total_brightness == int(px.sum())
        assert r.peak_brightness == max(
            int(px[py * p : (py + 1) * p, gx * p : (gx + 1) * p].sum())
            for py in range(ny)
            for gx in range(nx)
        )
    # the generic expansion emits each (px, py) exactly once per asset
    patches = sample_patches(synth_media(spark, n=64)).collect()
    seen = {(p_.asset_id, p_.px, p_.py) for p_ in patches}
    assert len(seen) == len(patches)


def _split_events_to_files(spark, tmp_path, n_files=3):
    """Write the sf0.001 events as n single-file parquets so the
    file source produces one micro-batch per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from postgres_s3_etl_spark.catalog import load_table

    pdf = load_table(spark, SF_DIR, "events").toPandas()
    # interleave rows across files so every batch mixes users —
    # the worst case for stateful merge correctness
    for i in range(n_files):
        part = pdf.iloc[i::n_files]
        tbl = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(tbl, str(tmp_path / f"ev_{i}.parquet"))
    return str(tmp_path)


def test_stream_topk_exact_across_micro_batches(spark, tmp_path):
    """Complete-mode running aggregation over 3 micro-batches (one
    file each, users interleaved) equals the batch aggregate — the
    decimal accumulator makes slicing unobservable."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_stream_to_memory,
    )

    d = _split_events_to_files(spark, tmp_path)
    ev = read_events_stream(
        spark, d, glob="ev_*.parquet", max_files_per_trigger=1
    )
    agg = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_purchase_value"),
        )
    )
    streamed = sorted(
        tuple(r)
        for r in run_stream_to_memory(
            agg, "multi_batch_topk", output_mode="complete"
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_purchase_value"),
        )
        .collect()
    )
    assert streamed == batch


def test_stream_dedup_exact_across_micro_batches(spark, tmp_path):
    """dropDuplicates state carries across micro-batches: the union
    of per-batch emissions is exactly the batch DISTINCT set, with
    no key emitted twice."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_stream_to_memory,
    )

    d = _split_events_to_files(spark, tmp_path)
    ev = read_events_stream(
        spark, d, glob="ev_*.parquet", max_files_per_trigger=1
    ).select("user_id", "event_type")
    emitted = run_stream_to_memory(
        ev.dropDuplicates(["user_id", "event_type"]), "multi_batch_dedup"
    ).collect()
    keys = [(r.user_id, r.event_type) for r in emitted]
    assert len(keys) == len(set(keys)), "a key was emitted twice"
    batch = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(keys) == batch


def test_stream_static_enrich_equals_batch_join(spark):
    """Stream-static join is stateless: the streamed enrichment of
    purchase events with the customer dim equals the batch join, and
    the streaming plan carries no state store operator."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table, table_path
    from postgres_s3_etl_spark.streaming.events_stream import (
        q_stream_static_enrich,
    )

    streamed = [
        tuple(r) for r in q_stream_static_enrich(spark, SF_DIR).collect()
    ]
    cust = spark.read.parquet(table_path(SF_DIR, "customer")).select(
        "c_custkey", "c_mktsegment"
    )
    batch = [
        tuple(r)
        for r in load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value")
        .orderBy("event_id")
        .collect()
    ]
    assert streamed == batch and streamed


def test_stream_static_enrich_across_micro_batches(spark, tmp_path):
    """Each event joins the dim in its own micro-batch; with a fixed
    dim the union over 3 interleaved batches is exactly the batch
    join — no rows lost or duplicated at batch boundaries."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import table_path
    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_stream_to_memory,
    )

    d = _split_events_to_files(spark, tmp_path)
    ev = read_events_stream(
        spark, d, glob="ev_*.parquet", max_files_per_trigger=1
    )
    cust = spark.read.parquet(table_path(SF_DIR, "customer")).select(
        "c_custkey", "c_mktsegment"
    )
    enriched = (
        ev.where(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value")
    )
    streamed = sorted(
        tuple(r)
        for r in run_stream_to_memory(
            enriched, "multi_batch_enrich"
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in spark.read.parquet(table_path(SF_DIR, "events"))
        .where(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value")
        .collect()
    )
    assert streamed == batch and streamed


def test_stream_dedup_within_watermark_collapses_doubled_input(spark):
    """The self-unioned (at-least-once worst case) stream carries
    every event twice; dropDuplicatesWithinWatermark must emit the
    exact distinct event set, and the plan must carry the
    state-evicting dedup operator (not the unbounded one)."""
    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        q_stream_dedup_within_watermark,
        stream_dedup_within_watermark,
    )

    plan = (
        stream_dedup_within_watermark(spark, SF_DIR)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert "DeduplicateWithinWatermark" in plan, plan[:800]
    got = {
        (r.event_id, r.user_id)
        for r in q_stream_dedup_within_watermark(spark, SF_DIR).collect()
    }
    expect = {
        (r.event_id, r.user_id)
        for r in load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id")
        .collect()
    }
    assert got == expect and got


def test_scd2_pit_join_conserves_and_hash_joins(spark):
    """Every probe shipment lands in exactly one priority era (counts
    conserve), and the interval lookup rides an equi hash join on
    custkey — never a nested-loop interval product."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.operators.scd import (
        SCD_PROBE_CUSTS,
        q_scd2_point_in_time,
    )

    df = q_scd2_point_in_time(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    total = sum(r.n_shipments for r in rows)
    orders = load_table(spark, SF_DIR, "orders").where(
        F.col("o_custkey") < SCD_PROBE_CUSTS
    )
    expect = (
        load_table(spark, SF_DIR, "lineitem")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert total == expect


def test_mm_payload_dedup_finds_exactly_the_reuploads(spark, duck):
    """10 re-ingested assets (i%7==0 of 64) must be the only
    duplicates: every dup group has size 2 and per-type dup counts
    sum to 10; oracle parity holds."""
    from tests.conftest import assert_matches_oracle

    from postgres_s3_etl_spark.operators.multimodal import mm_payload_dedup

    assert_matches_oracle(spark, duck, "mm_payload_dedup")
    rows = mm_payload_dedup(spark, SF_DIR).collect()
    assert sum(r.n_dup_assets for r in rows) == 10
    for r in rows:
        assert r.max_dup_group == 2
        assert r.n_assets == r.n_distinct_payloads + r.n_dup_assets


def test_stream_abandoned_clicks_outer_semantics(spark):
    """Left-outer stream-stream join: every inner match emits, a
    null-extended click emits only when its whole match window lies
    strictly below the final watermark, and no click appears both
    matched and null-extended."""
    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.streaming.events_stream import (
        q_stream_abandoned_clicks,
    )

    rows = q_stream_abandoned_clicks(spark, SF_DIR).collect()
    assert rows
    matched_ids = {r.click_id for r in rows if r.purchase_id is not None}
    null_ids = {r.click_id for r in rows if r.purchase_id is None}
    assert not (matched_ids & null_ids)

    ev = load_table(spark, SF_DIR, "events").collect()
    clicks = [e for e in ev if e.event_type == "click"]
    purchases = [e for e in ev if e.event_type == "purchase"]
    hour = 3_600_000_000  # µs
    us = lambda t: int(t.timestamp() * 1e6)  # noqa: E731
    wm = min(
        max(us(c.ts) for c in clicks), max(us(p.ts) for p in purchases)
    ) - hour
    expect_matched, expect_null = set(), set()
    for c in clicks:
        hit = any(
            p.user_id == c.user_id
            and us(c.ts) <= us(p.ts) <= us(c.ts) + hour
            for p in purchases
        )
        if hit:
            expect_matched.add(c.event_id)
        elif us(c.ts) + hour < wm:
            expect_null.add(c.event_id)
    assert matched_ids == expect_matched
    assert null_ids == expect_null


def test_decode_router_routes_and_skips(spark, duck):
    """mm_decode_router: one pass sniffs magic bytes, decodes every
    recognized format for real (BMP, baseline JPEG, WAV, y4m),
    counts-but-skips the H.264-class junk arm, and its per-type sums
    equal numpy recomputation."""
    import numpy as np

    from postgres_s3_etl_spark.operators.multimodal import (
        N_MIXED_ASSETS,
        _wav_sample,
        _y4m_planes,
        decode_bmp24,
        decode_jpeg_gray,
        encode_bmp24,
        encode_jpeg_gray,
        mm_decode_router,
    )
    from tests.conftest import assert_matches_oracle

    rows = {r.media_type: r for r in mm_decode_router(spark, "unused").collect()}
    assert set(rows) == {"image", "audio", "video"}

    kinds = {}
    for i in range(N_MIXED_ASSETS):
        if i % 10 == 9:
            kinds.setdefault("junk", []).append(i)
        elif i % 4 == 1 and i % 8 == 5:
            kinds.setdefault("adpcm", []).append(i)  # round-11 arm
        elif i % 4 == 1 and i % 16 == 1:
            kinds.setdefault("flac", []).append(i)  # round-12 arm
        else:
            kinds.setdefault(("bmp", "wav", "y4m", "jpeg")[i % 4], []).append(i)

    img = rows["image"]
    assert img.n_assets == len(kinds["bmp"]) + len(kinds["jpeg"])
    assert img.n_decoded == img.n_assets  # both image arms are real now
    # jpeg feed alternates gray / 4:2:0 color by (i // 4) parity
    # (round-7); the router's FFD8 arm reads the luma plane of both.
    from postgres_s3_etl_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color_420,
    )

    exp_img_main = sum(
        int(decode_bmp24(encode_bmp24(i, 16 + i % 8, 12 + i % 5))
            .astype(np.int64).sum())
        for i in kinds["bmp"]
    ) + sum(
        int(decode_jpeg_gray(
            encode_jpeg_gray(i, 16 + 8 * (i % 3), 16 + 8 * (i % 2))
        ).astype(np.int64).sum())
        for i in kinds["jpeg"] if (i // 4) % 2 == 0
    ) + sum(
        int(decode_jpeg_color(
            encode_jpeg_color_420(i, 32 + 16 * (i % 3), 32 + 16 * (i % 2))
        )[0].astype(np.int64).sum())
        for i in kinds["jpeg"] if (i // 4) % 2 == 1
    )
    assert img.total_main == exp_img_main

    from postgres_s3_etl_spark.operators.multimodal import (
        ADPCM_SAMPLES_PER_BLOCK,
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
    )

    adpcm_samples = {
        i: decode_wav_ima_adpcm(encode_wav_ima_adpcm(i, 2 + i % 3))
        for i in kinds["adpcm"]
    }
    from postgres_s3_etl_spark.operators.flac_codec import (
        FLAC_BLOCK,
        decode_flac,
        encode_flac,
    )

    flac_samples = {
        i: decode_flac(encode_flac(i, 2 + i % 3)) for i in kinds["flac"]
    }
    assert all(s is not None for s in flac_samples.values())
    aud = rows["audio"]
    assert aud.n_assets == aud.n_decoded == len(kinds["wav"]) + len(
        kinds["adpcm"]
    ) + len(kinds["flac"])
    assert aud.total_units == sum(
        1000 + 10 * i for i in kinds["wav"]
    ) + sum(
        (2 + i % 3) * ADPCM_SAMPLES_PER_BLOCK for i in kinds["adpcm"]
    ) + sum((2 + i % 3) * FLAC_BLOCK for i in kinds["flac"])
    assert aud.total_main == sum(
        _wav_sample(i, k) ** 2
        for i in kinds["wav"]
        for k in range(1000 + 10 * i)
    ) + sum(
        v * v for s in adpcm_samples.values() for v in s
    ) + sum(v * v for s in flac_samples.values() for v in s)

    vid = rows["video"]
    assert vid.n_assets == len(kinds["y4m"]) + len(kinds["junk"])
    assert vid.n_decoded == len(kinds["y4m"])  # junk arm skipped, counted
    assert vid.total_main == sum(
        int(_y4m_planes(i, 12 + i % 6, 8 + i % 4, t)[0].sum())
        for i in kinds["y4m"]
        for t in range(4 + i % 5)
    )
    assert_matches_oracle(spark, duck, "mm_decode_router")


def test_scene_cut_detection_finds_planted_cuts(spark, duck):
    """mm_video_scene_cuts: every asset's planted scene change (at
    2 + i % 3) is detected exactly once — within-scene drift never
    crosses the threshold, the cross-scene jump always does."""
    from postgres_s3_etl_spark.operators.multimodal import (
        N_SCENE_ASSETS,
        mm_video_scene_cuts,
    )
    from tests.conftest import assert_matches_oracle

    rows = {r.asset_id: r for r in mm_video_scene_cuts(spark, "unused").collect()}
    assert len(rows) == N_SCENE_ASSETS
    for aid, r in rows.items():
        nf = 6 + aid % 5
        assert r.n_frames == nf
        assert r.n_pairs == nf - 1
        assert r.n_cuts == 1, (aid, r)
        assert r.first_cut_t == 2 + aid % 3
        assert r.total_sad > 0
    assert_matches_oracle(spark, duck, "mm_video_scene_cuts")


def test_silence_trim_bounds_match_construction(spark, duck):
    """mm_audio_silence_trim: trim bounds respect the planted pads —
    first_loud lands at/after the lead pad (inward only if the body
    edge falls inside the eps band), numpy recomputation agrees."""
    import numpy as np

    from postgres_s3_etl_spark.operators.multimodal import (
        N_TRIM_ASSETS,
        SILENCE_EPS,
        _wav_sample,
        mm_audio_silence_trim,
    )
    from tests.conftest import assert_matches_oracle

    rows = {r.asset_id: r for r in mm_audio_silence_trim(spark, "unused").collect()}
    assert len(rows) == N_TRIM_ASSETS
    for aid, r in rows.items():
        lead, body, tail = 40 + 10 * (aid % 5), 400 + 10 * aid, 30 + 10 * (aid % 4)
        n = lead + body + tail
        s = np.zeros(n, dtype=np.int64)
        for k in range(lead, lead + body):
            s[k] = _wav_sample(aid, k)
        loud = np.flatnonzero(np.abs(s) > SILENCE_EPS)
        assert r.n_samples == n
        assert r.first_loud == loud[0] and r.last_loud == loud[-1]
        assert lead <= r.first_loud < lead + body
        assert r.trimmed_len == loud[-1] - loud[0] + 1
        span = s[loud[0] : loud[-1] + 1]
        assert r.trimmed_ssq == int((span * span).sum())
    assert_matches_oracle(spark, duck, "mm_audio_silence_trim")
