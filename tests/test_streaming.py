"""Structured Streaming tests: stream==batch equivalence for the
windowed aggregations, exactly-once checkpointed bronze ingest, and
cross-micro-batch state for the applyInPandasWithState operator.

The events table is split into three chunk files fed as separate
micro-batches (maxFilesPerTrigger=1), so these tests exercise real
incremental processing, not a single-batch degenerate case.
"""

from __future__ import annotations

import pytest

import pandas as pd
from pyspark.sql import functions as F

from covid_weather_etl_spark.sources.catalog import load_tables
from covid_weather_etl_spark.streaming import streams as S
from tests.conftest import SF_DIR, normalize


@pytest.fixture(scope="module")
def landing_dir(spark, tmp_path_factory) -> str:
    """The sf0.001 events table as 3 parquet chunk files (micro-batches),
    ts normalized to microseconds as the ingest schema declares."""
    d = tmp_path_factory.mktemp("landing")
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    pdf = events.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(
            f"{d}/chunk_{i}.parquet", index=False)
    return str(d)


def _run_stream_to_memory(spark, df, name: str, mode: str):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


@pytest.mark.slow
def test_tumbling_stream_equals_batch(spark, landing_dir):
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.tumbling_counts_stream(stream), "t_tumbling", "append")
    batch = (load_tables(spark, SF_DIR, ("events",))["events"]
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("w_start"),
                     F.col("window.end").alias("w_end"),
                     "event_type", "n_events"))
    g = normalize(got.drop("sum_value").toPandas())
    b = normalize(batch.toPandas())
    # append mode only emits windows closed by the watermark; every
    # emitted window must match batch, and most windows must close.
    merged = g.merge(b, on=["w_start", "w_end", "event_type"],
                     suffixes=("_s", "_b"))
    assert len(merged) == len(g)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert len(g) >= 0.8 * len(b)


def test_session_stream_equals_batch(spark, landing_dir):
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.session_windows_stream(stream), "t_sessions", "append")
    batch = (load_tables(spark, SF_DIR, ("events",))["events"]
             .groupBy(F.session_window("ts", S.GAP), "user_id")
             .agg(F.count("*").alias("n_events"))
             .select("user_id",
                     F.col("session_window.start").alias("s_start"),
                     F.col("session_window.end").alias("s_end"),
                     "n_events"))
    g = normalize(got.toPandas())
    b = normalize(batch.toPandas())
    merged = g.merge(b, on=["user_id", "s_start", "s_end"],
                     suffixes=("_s", "_b"))
    assert len(merged) == len(g)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert len(g) >= 0.8 * len(b)


def test_bronze_ingest_exactly_once(spark, landing_dir, tmp_path):
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    src = S.read_event_stream(spark, landing_dir)
    q = S.ingest_bronze(src, bronze, ckpt)
    q.awaitTermination(120)
    n_src = spark.read.parquet(landing_dir).count()
    assert spark.read.parquet(bronze).count() == n_src
    # re-run with same checkpoint: no new files processed, no dupes
    q2 = S.ingest_bronze(S.read_event_stream(spark, landing_dir),
                         bronze, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(bronze).count() == n_src


def test_running_totals_state_across_batches(spark, landing_dir):
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.running_totals_stream(stream), "t_running", "update")
    # memory sink in update mode appends every emission; the LAST row
    # per user is the final state — must equal the batch totals.
    pdf = got.toPandas()
    final = (pdf.groupby("user_id").last()
             .reset_index()[["user_id", "n_seen"]])
    batch = (spark.read.parquet(landing_dir).groupBy("user_id")
             .agg(F.count("*").alias("n_batch")).toPandas())
    merged = final.merge(batch, on="user_id")
    assert len(merged) == len(batch)
    assert (merged.n_seen == merged.n_batch).all()
    # state genuinely crossed micro-batches: some user must have been
    # emitted more than once (3 chunks, ~every user in each chunk)
    assert (pdf.groupby("user_id").size() > 1).any()


def test_enrich_stream_equals_batch_join(spark, landing_dir):
    customer = load_tables(spark, SF_DIR, ("customer",))["customer"]
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.enrich_stream(stream, customer), "t_enrich", "append")
    batch = S.enrich_stream(
        load_tables(spark, SF_DIR, ("events",))["events"], customer)
    g = got.toPandas().sort_values("event_id").reset_index(drop=True)
    b = batch.toPandas().sort_values("event_id").reset_index(drop=True)
    # stateless stream-static join: every event passes through exactly
    # once with the same enrichment the batch join produces
    n_events = load_tables(spark, SF_DIR, ("events",))["events"].count()
    assert len(g) == len(b) == n_events
    assert (g["segment"].fillna("∅").values
            == b[g.columns]["segment"].fillna("∅").values).all()
    assert g["segment"].notna().any()


@pytest.mark.slow
def test_stream_stream_join_equals_batch(spark, landing_dir):
    """Inner stream-stream join with watermarks emits exactly the batch
    join's matches (inner joins emit on match; the watermark only
    bounds state retention)."""
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.attribution_join_stream(stream), "t_ssjoin", "append")
    batch = S.click_attribution_window(spark, SF_DIR)
    key = ["purchase_id", "click_id"]
    g = got.toPandas().sort_values(key).reset_index(drop=True)
    b = batch.toPandas().sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    pd.testing.assert_frame_equal(g, b[g.columns])


@pytest.mark.slow
def test_upsert_gold_stream_is_duplicate_proof(spark, landing_dir,
                                               tmp_path):
    """foreachBatch upsert: duplicates across micro-batches are dropped
    by the anti-join, and a FULL reprocess (fresh checkpoint, same
    gold) appends nothing — dedup holds even when exactly-once file
    tracking is lost."""
    import shutil
    dup_dir = str(tmp_path / "landing_dup")
    shutil.copytree(landing_dir, dup_dir)
    # chunk 3 = copy of chunk 0: every row arrives twice across batches
    shutil.copy(f"{landing_dir}/chunk_0.parquet",
                f"{dup_dir}/chunk_3.parquet")
    gold = str(tmp_path / "gold")
    q = S.upsert_gold_stream(
        S.read_event_stream(spark, dup_dir, max_files_per_trigger=1),
        gold, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    n_distinct = (spark.read.parquet(dup_dir)
                  .select("event_id").distinct().count())
    got = spark.read.parquet(gold)
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct
    # reprocess everything with a FRESH checkpoint → still no dupes
    q2 = S.upsert_gold_stream(
        S.read_event_stream(spark, dup_dir, max_files_per_trigger=1),
        gold, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert spark.read.parquet(gold).count() == n_distinct


@pytest.mark.slow
def test_dedup_ingest_stream_drops_redeliveries(spark, landing_dir,
                                                tmp_path):
    """dropDuplicatesWithinWatermark twin of dedup-on-load (D2), run on
    the delivery pattern an at-least-once landing stream actually
    produces: chunks arrive in event-time order and each chunk is
    immediately re-delivered (source replay) — the redelivery lands
    WITHIN the watermark horizon, so it must be recognized as a
    duplicate and dropped, and every legitimate event must be emitted
    exactly once (== batch `dropDuplicates` over the union).

    The earlier version of this fixture fed row-index slices of the
    events table, which are NOT time-ordered: an early micro-batch
    advanced the watermark past later chunks' legitimate-but-older rows
    and the operator dropped a third of the stream as late data. That
    is the DOCUMENTED late-data policy, not a dedup bug — so this test
    now also pins it explicitly: a final file whose (never-seen) events
    sit far behind the watermark must produce NO output rows."""
    import os
    import time

    d = tmp_path / "landing_dup"
    d.mkdir()
    events = spark.read.parquet(landing_dir)
    pdf = events.toPandas().sort_values("ts").reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    # a_i = i-th time-ordered chunk; b_i = its immediate redelivery.
    # Distinct mtimes pin the file-source processing order
    # (a_0, b_0, a_1, b_1, a_2, b_2, z_late).
    base = time.time() - 100
    for i in range(3):
        chunk = pdf.iloc[i * n // 3:(i + 1) * n // 3]
        for j, name in ((0, f"a_chunk_{i}.parquet"),
                        (1, f"b_redelivery_{i}.parquet")):
            p = str(d / name)
            chunk.to_parquet(p, index=False)
            t = base + 10 * (2 * i + j)
            os.utime(p, (t, t))
    # never-seen event_ids, event-time far behind the final watermark
    # (watermark = max ts − 2h; these sit at min ts − 1h)
    late = pdf.iloc[:20].copy()
    late["event_id"] = -1 - pd.RangeIndex(len(late))
    late["ts"] = (late["ts"].min() - pd.Timedelta(hours=1))
    late["ts"] = late["ts"].astype("datetime64[us]")
    p_late = str(d / "z_late.parquet")
    late.to_parquet(p_late, index=False)
    os.utime(p_late, (base + 90, base + 90))

    stream = S.read_event_stream(spark, str(d), max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.dedup_ingest_stream(stream), "t_dedup_ingest", "append")
    # late-data policy: the z_late events never appear
    assert got.filter("event_id < 0").count() == 0
    # dedup: every legitimate event exactly once == batch dropDuplicates
    batch = (spark.read.schema(S.EVENT_SCHEMA).parquet(str(d))
             .filter("event_id >= 0").dropDuplicates(["event_id"]))
    assert got.count() == batch.count() == n
    assert got.groupBy("event_id").count().filter("count > 1").count() == 0
    g = normalize(got.orderBy("event_id").toPandas())
    b = normalize(batch.orderBy("event_id").toPandas())
    pd.testing.assert_frame_equal(g, b)


def test_rollup_refresh_stream_matches_oneshot(spark, landing_dir,
                                               tmp_path):
    """Streaming MV maintenance: after 3 micro-batches the persisted
    rollup equals the one-shot batch aggregate (the mergeable-state
    identity), and re-running the stream on the SAME checkpoint folds
    nothing twice."""
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    q = S.rollup_refresh_stream(
        S.read_event_stream(spark, landing_dir, max_files_per_trigger=1),
        rollup, ckpt)
    q.awaitTermination(120)
    got = normalize(S.read_rollup(spark, rollup).toPandas())
    want = normalize(
        spark.read.parquet(landing_dir)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
              .alias("sum_value"))
        .toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # same checkpoint, no new files → state unchanged
    q2 = S.rollup_refresh_stream(
        S.read_event_stream(spark, landing_dir, max_files_per_trigger=1),
        rollup, ckpt)
    q2.awaitTermination(120)
    got2 = normalize(S.read_rollup(spark, rollup).toPandas())
    pd.testing.assert_frame_equal(got2, want, check_dtype=False)


def test_debounce_stream_equals_batch_rule(spark, landing_dir, tmp_path):
    """Gap-based streaming debounce == the batch lag-rule over the
    same time-ordered stream, including bursts planted ACROSS
    micro-batch boundaries (per-key state carries the last-seen
    timestamp between batches)."""
    import os
    import time

    d = tmp_path / "landing_bursts"
    d.mkdir()
    pdf = (spark.read.parquet(landing_dir).toPandas()
           .sort_values("ts").reset_index(drop=True))
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # every 10th event redelivers 30s later under a negative id —
    # same planting rule as the batch operator's fixture
    dup = pdf[pdf["event_id"] % 10 == 0].copy()
    dup["event_id"] = -dup["event_id"] - 1
    dup["ts"] = dup["ts"] + pd.Timedelta(seconds=30)
    full = (pd.concat([pdf, dup]).sort_values(["ts", "event_id"])
            .reset_index(drop=True))
    # concat/Timedelta arithmetic can upcast to ns; the ingest schema
    # declares TIMESTAMP(MICROS)
    full["ts"] = full["ts"].astype("datetime64[us]")
    n = len(full)
    base = time.time() - 100
    for i in range(3):
        p = str(d / f"chunk_{i}.parquet")
        full.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(p, index=False)
        os.utime(p, (base + 10 * i, base + 10 * i))

    got = _run_stream_to_memory(
        spark,
        S.debounce_stream(
            S.read_event_stream(spark, str(d), max_files_per_trigger=1)),
        "debounce_stream_out", "append")

    # batch twin: the same lag rule over the full landed set
    landed = spark.createDataFrame(full)
    w = (F.lag("ts").over(
        __import__("pyspark").sql.Window
        .partitionBy("user_id", "event_type").orderBy("ts", "event_id")))
    want = (landed
            .select("event_id", "user_id", "event_type", "ts",
                    w.alias("prev_ts"))
            .filter(F.col("prev_ts").isNull()
                    | (F.unix_micros("ts") - F.unix_micros("prev_ts")
                       > 300 * 1_000_000))
            .drop("prev_ts"))
    a = normalize(got.toPandas())
    b = normalize(want.toPandas())
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # the planted bursts were actually suppressed
    assert len(a) < len(full)


def test_drift_monitor_stream_equals_batch(spark, landing_dir):
    """The streaming drift monitor (watermarked windows + stream-
    static reference join) must emit exactly the batch twin's rows
    for every window it closes."""
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    ref = S.drift_reference(events).localCheckpoint(eager=True)
    stream = S.read_event_stream(spark, landing_dir,
                                 max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.drift_monitor_stream(stream, ref), "t_drift", "append")
    g = normalize(got.toPandas())
    b = normalize(S._drift_windows(events, ref).toPandas())
    key = ["w_start", "w_end", "event_type"]
    merged = g.merge(b, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(g)          # every emitted row matches a batch row
    assert len(g) > 0
    for col in ("n_events", "win_mean", "z_score", "alert"):
        assert (merged[f"{col}_s"] == merged[f"{col}_b"]).all(), col


@pytest.mark.slow
def test_left_outer_stream_join_equals_batch_anti(spark, landing_dir,
                                                  tmp_path):
    """The LEFT-OUTER stream-stream join's null-match rows (streaming
    anti-join) must equal the batch interval anti-join once the
    watermark has flushed every real purchase: outer rows are held in
    state until no matching click can still arrive, so the fixture
    lands time-ordered chunks plus a far-future sentinel pair (one
    click, one purchase — each side's watermark advances on its OWN
    filtered stream) to push the watermark past all real data."""
    import time

    d = tmp_path / "landing_outer"
    d.mkdir()
    events = spark.read.parquet(landing_dir)
    pdf = events.toPandas().sort_values("ts").reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    base = time.time() - 100
    import os
    for i in range(3):
        f = f"{d}/a_{i}.parquet"
        pdf.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(f, index=False)
        os.utime(f, (base + i, base + i))
    sentinel_ts = pdf.ts.max() + pd.Timedelta(days=30)
    sent = pd.DataFrame({
        "event_id": [10 ** 12, 10 ** 12 + 1],
        "ts": [sentinel_ts, sentinel_ts],
        "user_id": [10 ** 9, 10 ** 9 + 1],
        "event_type": ["purchase", "click"],
        "value": [0.0, 0.0], "props": ["{}", "{}"],
    })
    sent["ts"] = sent["ts"].astype("datetime64[us]")
    f = f"{d}/z_sentinel.parquet"
    sent.to_parquet(f, index=False)
    os.utime(f, (base + 10, base + 10))

    stream = S.read_event_stream(spark, str(d), max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, S.unattributed_purchases_stream(stream),
        "t_outer_anti", "append")
    got_pdf = (got.filter(F.col("user_id") < 10 ** 9).toPandas()
               .sort_values("purchase_id").reset_index(drop=True))
    from covid_weather_etl_spark.queries.registry import all_queries
    batch = (all_queries()["unattributed_purchases"].fn(spark, SF_DIR)
             .toPandas().sort_values("purchase_id")
             .reset_index(drop=True))
    got_pdf["purchase_ts"] = got_pdf["purchase_ts"].astype("datetime64[us]")
    batch["purchase_ts"] = batch["purchase_ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got_pdf, batch)
    assert len(batch) > 0  # the anti-join is non-degenerate on sf0.001


# ---------------------------------------------------------------------------
# streaming incremental near-dup dedup (persisted-index fold twin)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def doc_landing(spark, tmp_path_factory) -> str:
    """The sf0.001 documents table as 3 parquet chunk files, each a
    micro-batch ingest of the dedup fold."""
    d = tmp_path_factory.mktemp("docs_landing")
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    pdf = docs.select("doc_id", "text").toPandas()
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(
            f"{d}/chunk_{i}.parquet", index=False)
    return str(d)


def _doc_stream(spark, landing: str):
    return (spark.readStream.schema(S.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(landing))


@pytest.mark.slow
def test_dedup_fold_stream_equals_oneshot_clusters(spark, doc_landing,
                                                   tmp_path):
    """After 3 micro-batch folds into the persisted index, the
    maintained cluster labels equal the one-shot batch dedup_clusters
    truth over the same corpus (fold associativity: every pair is
    Jaccard-scored when its later doc arrives; component-min merge is
    order-free). A same-checkpoint rerun folds nothing twice."""
    state = str(tmp_path / "dedup_state")
    ckpt = str(tmp_path / "ckpt")
    q = S.dedup_fold_stream(_doc_stream(spark, doc_landing), state, ckpt)
    q.awaitTermination(300)
    got = normalize(S.read_dedup_fold_state(spark, state).toPandas())
    from covid_weather_etl_spark.operators import corpus as C
    want = normalize(C.dedup_clusters(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert (~want["is_canonical"]).sum() > 0  # non-degenerate: real dups
    # same checkpoint, no new files -> state unchanged
    q2 = S.dedup_fold_stream(_doc_stream(spark, doc_landing), state, ckpt)
    q2.awaitTermination(300)
    got2 = normalize(S.read_dedup_fold_state(spark, state).toPandas())
    pd.testing.assert_frame_equal(got2, want, check_dtype=False)


@pytest.mark.slow
def test_dedup_fold_batch_replay_is_idempotent(spark, doc_landing,
                                               tmp_path):
    """foreachBatch's at-least-once contract: redelivering a batch
    UNDER ITS ORIGINAL BATCH ID re-reads only `fold < id` state and
    overwrites its own fold partitions with identical content — the
    middle fold is replayed after the final fold committed, and the
    resolved state is unchanged."""
    import os
    state = str(tmp_path / "dedup_state")
    ckpt = str(tmp_path / "ckpt")
    q = S.dedup_fold_stream(_doc_stream(spark, doc_landing), state, ckpt)
    q.awaitTermination(300)
    before = normalize(S.read_dedup_fold_state(spark, state).toPandas())
    # reconstruct fold 1's exact batch from its membership partition
    member = spark.read.parquet(os.path.join(state, "docs", "fold=1"))
    batch1 = (spark.read.parquet(doc_landing)
              .join(member.select("doc_id"), "doc_id")
              .select("doc_id", "text"))
    S.dedup_fold_batch(batch1, 1, state)
    after = normalize(S.read_dedup_fold_state(spark, state).toPandas())
    pd.testing.assert_frame_equal(after, before, check_dtype=False)


@pytest.mark.slow
def test_dedup_fold_chain_merge_across_folds(spark, tmp_path):
    """Synthetic chain corpus pinning the cross-fold relabel algebra:
    A~B~C~D (3-gram Jaccard >= 0.2 ONLY between neighbors) folded as
    {A, D} then {B} then {C} exercises singleton->cluster, cluster
    extension, and a two-component merge via one arriving doc — the
    final labels must equal the one-shot dedup_clusters truth AND the
    hand-derived component (min id wins through every merge path)."""
    import os
    w = [f"t{i:02d}" for i in range(1, 20)]
    texts = {
        1: " ".join(w[0:10]),     # A: t01..t10
        2: " ".join(w[3:13]),     # B: t04..t13  (J(A,B)=5/11)
        3: " ".join(w[6:16]),     # C: t07..t16  (J(B,C)=5/11, J(A,C)=2/14 < 0.2)
        4: " ".join(w[9:19]),     # D: t10..t19  (J(C,D)=5/11, J(B,D) < 0.2)
        99: " ".join(f"x{i}" for i in range(10)),  # X: singleton
    }
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pd.DataFrame({
        "doc_id": list(texts), "text": list(texts.values()),
        "lang": "en", "source": "synth",
        "n_chars": [len(t) for t in texts.values()],
    }).to_parquet(f"{corpus}/documents.parquet", index=False)

    state = str(tmp_path / "state")
    for fold_id, ids in enumerate([(1, 4), (2,), (3, 99)]):
        batch = spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string")
        S.dedup_fold_batch(batch, fold_id, state)
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in S.read_dedup_fold_state(spark, state).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 99: (99, True)}
    from covid_weather_etl_spark.operators import corpus as C
    want = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in C.dedup_clusters(spark, str(corpus)).collect()}
    assert got == want


@pytest.mark.slow
def test_dedup_fold_source_redelivery_is_first_write_wins(spark, tmp_path):
    """The second exactly-once layer (above the checkpoint): a doc
    redelivered by the SOURCE in a later fold — and an in-batch
    duplicate — must not re-enter the index (duplicate shingle rows
    would double its Jaccard counts); state equals a clean ingest."""
    texts = {1: "a b c d e f", 2: "a b c d e f", 3: "p q r s t u"}
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, texts[1]), (3, texts[3]), (3, texts[3])],  # in-batch dup
        "doc_id long, text string")
    S.dedup_fold_batch(b0, 0, state)
    b1 = spark.createDataFrame(
        [(2, texts[2]), (1, texts[1])],  # doc 1 redelivered by source
        "doc_id long, text string")
    S.dedup_fold_batch(b1, 1, state)
    import os
    idx = spark.read.parquet(os.path.join(state, "idx"))
    assert idx.groupBy("doc_id", "s").count().filter("count > 1").count() == 0
    got = {r["doc_id"]: r["cluster_id"]
           for r in S.read_dedup_fold_state(spark, state).collect()}
    assert got == {1: 1, 2: 1, 3: 3}  # 1&2 identical text -> one cluster


def test_ivf_fold_parity_at_pytest_sf(spark, duck):
    """Driver-style parity for the streaming IVF ingest fold at the
    pytest SF: the registered oracle is sf0.01-pinned (the ivf
    family's convention), so rebuild the same oracle text against
    THIS SF's own persisted codebook — closes the per-SF ladder."""
    from types import SimpleNamespace
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import assert_parity
    q = all_queries()["ivf_fold_state_cells"]
    shim = SimpleNamespace(name=q.name, fn=q.fn,
                           oracle=S._ivf_fold_oracle(SF_DIR))
    assert_parity(spark, duck, shim, sf_dir=SF_DIR)


@pytest.mark.slow
def test_ivf_fold_stream_equals_oneshot_assignment(spark, tmp_path):
    """The foreachBatch ANN ingest: after 3 micro-batch folds, the
    maintained (vec_id, c_id) state equals the one-shot
    literal-codebook assignment of the whole table; a same-checkpoint
    rerun folds nothing twice."""
    import os
    from covid_weather_etl_spark.operators import similarity as SIM
    rows = SIM.ensure_ivf_codebook(spark, SF_DIR)
    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"] \
        .select("vec_id", "embedding")
    landing = tmp_path / "vec_landing"
    landing.mkdir()
    pdf = emb.toPandas()
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(
            f"{landing}/chunk_{i}.parquet", index=False)
    state = str(tmp_path / "ivf_state")
    ckpt = str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(S.VEC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(landing)))
    q = S.ivf_fold_stream(stream, state, ckpt, rows)
    q.awaitTermination(300)
    got = (spark.read.parquet(os.path.join(state, "asg"))
           .select("vec_id", "c_id").toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    want = (SIM.assign_cells_literal(SIM._vecs(emb), rows)
            .select("vec_id", F.col("c_id").cast("int")).toPandas()
            .sort_values("vec_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    q2 = S.ivf_fold_stream(
        (spark.readStream.schema(S.VEC_SCHEMA)
         .option("maxFilesPerTrigger", 1).parquet(str(landing))),
        state, ckpt, rows)
    q2.awaitTermination(300)
    again = (spark.read.parquet(os.path.join(state, "asg"))
             .select("vec_id", "c_id").toPandas()
             .sort_values("vec_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(again, want, check_dtype=False)


def test_ivf_fold_redelivery_and_first_write_wins(spark, tmp_path):
    """At-least-once safety for the ANN fold: a batch replayed under
    its ORIGINAL id rewrites identical content; a vector redelivered
    by the SOURCE in a later fold (and an in-batch duplicate) does not
    re-enter the state."""
    import os
    cb = [{"c_id": 0, "cv": [1.0, 0.0]}, {"c_id": 1, "cv": [0.0, 1.0]}]
    vecs = {1: [0.9, 0.1], 2: [0.2, 0.8], 3: [0.7, 0.3]}
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, vecs[1]), (3, vecs[3]), (3, vecs[3])],   # in-batch dup
        "vec_id long, embedding array<float>")
    S.ivf_fold_batch(b0, 0, state, cb)
    b1 = spark.createDataFrame(
        [(2, vecs[2]), (1, vecs[1])],                 # source redelivery
        "vec_id long, embedding array<float>")
    S.ivf_fold_batch(b1, 1, state, cb)
    asg = spark.read.parquet(os.path.join(state, "asg"))
    assert asg.groupBy("vec_id").count().filter("count > 1").count() == 0
    got = {r["vec_id"]: r["c_id"] for r in asg.collect()}
    assert got == {1: 0, 2: 1, 3: 0}
    before = {(r["vec_id"], r["c_id"], r["fold"]) for r in asg.collect()}
    S.ivf_fold_batch(b1, 1, state, cb)                # replay, same id
    after = {(r["vec_id"], r["c_id"], r["fold"])
             for r in spark.read.parquet(
                 os.path.join(state, "asg")).collect()}
    assert after == before


@pytest.mark.slow
def test_fold_compaction_preserves_state_and_future_folds(spark, tmp_path):
    """The fold-state compaction contract, on the synthetic chain
    corpus: (a) the compacted single-fold state resolves to exactly
    the pre-compaction clusters; (b) the index/membership row sets are
    carried exactly; (c) a FUTURE fold lands identically on the live
    and compacted states (compaction is invisible to the kernel); and
    (d) redelivering that future batch AFTER compaction is idempotent
    — the at-least-once story survives maintenance."""
    import os
    w = [f"t{i:02d}" for i in range(1, 20)]
    texts = {
        1: " ".join(w[0:10]),     # A: t01..t10
        2: " ".join(w[3:13]),     # B: t04..t13  (J(A,B)=5/11)
        3: " ".join(w[6:16]),     # C: t07..t16  (chain via B)
        99: " ".join(f"x{i}" for i in range(10)),  # singleton
    }
    live = str(tmp_path / "live")
    for fold_id, ids in enumerate([(1, 99), (2,), (3,)]):
        batch = spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string")
        S.dedup_fold_batch(batch, fold_id, live)
    pre = normalize(S.read_dedup_fold_state(spark, live).toPandas())

    comp = str(tmp_path / "comp")
    m = S.compact_fold_state(spark, live, comp)
    assert m == 2  # consolidated under the highest committed fold id
    # (a) resolved clusters unchanged
    post = normalize(S.read_dedup_fold_state(spark, comp).toPandas())
    pd.testing.assert_frame_equal(post, pre, check_dtype=False)
    # (b) posting/membership sets carried exactly; one fold partition
    for table in ("docs", "idx"):
        a = spark.read.parquet(os.path.join(live, table)).drop("fold")
        b = spark.read.parquet(os.path.join(comp, table)).drop("fold")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    folds = spark.read.parquet(os.path.join(comp, "docs"))
    assert folds.select("fold").distinct().count() == 1
    # star holds exactly the non-canonical docs, identity rows dropped
    star = spark.read.parquet(os.path.join(comp, "star"))
    assert star.filter("node = lbl").count() == 0
    assert star.count() == int((~pre["is_canonical"]).sum())

    # (c) a future fold (doc 4 merges nothing; doc 5 extends A's
    # cluster through C) sees identical state either way
    nxt = spark.createDataFrame(
        [(4, " ".join(f"y{i}" for i in range(10))),
         (5, " ".join(w[9:19]))], "doc_id long, text string")
    S.dedup_fold_batch(nxt, 3, live)
    S.dedup_fold_batch(nxt, 3, comp)
    after_live = normalize(S.read_dedup_fold_state(spark, live).toPandas())
    after_comp = normalize(S.read_dedup_fold_state(spark, comp).toPandas())
    pd.testing.assert_frame_equal(after_comp, after_live, check_dtype=False)
    assert after_comp.set_index("doc_id")["cluster_id"].to_dict() == {
        1: 1, 2: 1, 3: 1, 5: 1, 4: 4, 99: 99}
    # (d) redelivery of batch 3 against the compacted state: unchanged
    S.dedup_fold_batch(nxt, 3, comp)
    again = normalize(S.read_dedup_fold_state(spark, comp).toPandas())
    pd.testing.assert_frame_equal(again, after_comp, check_dtype=False)


def test_stream_fold_compaction_apply_parity_and_invariants(spark, duck):
    """The registered driver row: hash-parity against the recursive-
    CTE truth oracle at sf0.001, plus the invariants the single row
    encodes — postings carried exactly, star at its floor
    (n_docs - n_clusters), zero label mismatches."""
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import assert_parity
    q = all_queries()["stream_fold_compaction_apply"]
    assert_parity(spark, duck, q)
    row = q.fn(spark, SF_DIR).first()
    assert row["folds_before"] == 3 and row["folds_after"] == 1
    assert row["idx_postings_before"] == row["idx_postings_after"]
    assert row["star_rows_after"] == row["n_docs"] - row["n_clusters"]
    assert row["label_mismatches"] == 0


def test_dedup_fold_state_clusters_parity_and_truth(spark, duck):
    """The registered driver row for the streaming fold: the 3-fold
    replayed state must hash-match the recursive-CTE oracle AND equal
    the batch dedup_clusters frame row-for-row; the second call reads
    the persisted state (memo path) and returns the same frame."""
    from covid_weather_etl_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR, assert_parity
    q = all_queries()["dedup_fold_state_clusters"]
    assert_parity(spark, duck, q)
    got = normalize(q.fn(spark, SF_DIR).toPandas())
    from covid_weather_etl_spark.operators import corpus as C
    want = normalize(C.dedup_clusters(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    again = normalize(q.fn(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(again, got, check_dtype=False)


def test_fold_state_build_crash_leaves_no_artifact(spark, tmp_path,
                                                   monkeypatch):
    """A fold-state build that raises in fold 1 must leave nothing at
    the artifact path — a directory there would be served as a
    complete (one-fold) state by every later call. The next call
    rebuilds all three folds; once published, the state is served
    without rebuilding."""
    import os
    from covid_weather_etl_spark.functions import artifacts as A
    corpus = tmp_path / "fold_crash_sf"
    corpus.mkdir()
    pd.DataFrame({
        "doc_id": range(1, 25),
        "text": [" ".join(f"w{i // 2 * 3 + j}" for j in range(10))
                 for i in range(1, 25)],
    }).to_parquet(f"{corpus}/documents.parquet", index=False)
    sf = str(corpus)
    path = A.artifact_path(
        sf, "dedup_fold", f"f3c{''.join(S.FOLD_CUTS)}j{S.DEDUP_FOLD_TAU}s3")
    real, calls = S.dedup_fold_batch, []

    def fold(batch_df, fold_id, state_dir):
        calls.append(fold_id)
        if crash and fold_id == 1:
            raise RuntimeError("injected crash in fold 1")
        real(batch_df, fold_id, state_dir)

    monkeypatch.setattr(S, "dedup_fold_batch", fold)
    crash = True
    with pytest.raises(RuntimeError, match="injected crash"):
        S.ensure_dedup_fold_state(spark, sf)
    assert calls == [0, 1]
    assert not os.path.exists(path)
    assert not [n for n in os.listdir(os.path.dirname(path))
                if n.startswith(os.path.basename(path))]  # no temp left

    crash, calls[:] = False, []
    assert S.ensure_dedup_fold_state(spark, sf) == path
    assert calls == [0, 1, 2]
    for table in ("docs", "idx", "star"):
        assert sorted(os.listdir(os.path.join(path, table))) == [
            "fold=0", "fold=1", "fold=2"]

    calls[:] = []
    assert S.ensure_dedup_fold_state(spark, sf) == path
    assert calls == []
    A.discard(path)
    assert not os.path.exists(path)
