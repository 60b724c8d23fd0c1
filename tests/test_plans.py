"""Physical-plan shape assertions for the round-2 operators: the scale
claims in the docstrings (shuffle-free, map-side combinable) are pinned
here so a refactor that silently adds an exchange fails a test."""

import re

import pytest
from pyspark.sql import Row, functions as F

from shaclapi_spark import audio_codec as ac
from shaclapi_spark.pipeline import multimodal as mm, sampling

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hash_sample_is_shuffle_free(spark, docs):
    plan = _plan(sampling.hash_sample(docs, "doc_id", rate=0.3))
    assert "Exchange" not in plan  # pure scan-side filter


def test_hash_sample_strata_is_shuffle_free(spark, docs):
    plan = _plan(
        sampling.hash_sample(
            docs, "doc_id", rate=0.5, strata_col="lang", strata_rates={"en": 0.1}
        )
    )
    assert "Exchange" not in plan


def test_stratified_quota_single_exchange(spark, docs):
    # one hash-partition exchange for the per-stratum window, nothing else
    plan = _plan(sampling.stratified_quota(docs, "doc_id", "lang", quota=5))
    assert plan.count("Exchange") == 1


def test_audio_frames_shuffle_free(spark):
    df = spark.createDataFrame(
        [Row(clip_id="c", bytes=bytearray(ac.encode_clip(440.0, 16000, 700, 0.5, "pcm_s16le")))]
    )
    plan = _plan(mm.audio_frame_features(df))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_loudness_rollup_has_partial_agg(spark):
    df = spark.createDataFrame(
        [Row(clip_id="c", bytes=bytearray(ac.encode_clip(440.0, 16000, 700, 0.5, "pcm_s16le")))]
    )
    plan = _plan(mm.loudness_stats(df))
    # map-side combine: two HashAggregates around exactly one exchange
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_decontaminate_broadcasts_benchmark(spark, docs):
    from shaclapi_spark.pipeline import dedup as dd

    bench = sampling.hash_sample(docs, "doc_id", rate=0.1, salt="b")
    plan = _plan(dd.contaminated_ids(docs, bench))
    # benchmark n-gram set rides a broadcast: the corpus side must join
    # without a corpus-wide hash-partition exchange
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_session_rollup_single_exchange(spark):
    """sessionize + rollup: the lag/running-sum windows and the
    (user, session_idx) groupBy all ride ONE HashPartitioning(user_id)
    exchange (sessions.py docstring claim)."""
    import datetime as dt

    from shaclapi_spark.pipeline import sessions as sess

    ev = spark.createDataFrame(
        [
            Row(
                user_id="u",
                event_id=i,
                event_type="view",
                ts=dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i),
            )
            for i in range(4)
        ]
    )
    plan = _plan(sess.session_rollup(ev))
    assert plan.count("Exchange hashpartitioning") == 1


def test_top_per_group_uses_window_group_limit(spark, docs):
    """row_number + rank<=k filter must compile to WindowGroupLimit (k-row
    heap per group) over a single exchange, not a full per-group sort."""
    plan = _plan(
        sampling.top_per_group(
            docs.select("source", "doc_id", "n_chars"),
            "source",
            [F.col("n_chars").desc(), F.col("doc_id").asc()],
            k=3,
        )
    )
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_chunk_documents_shuffle_free(spark, docs):
    from shaclapi_spark.pipeline import chunk as ckm

    plan = _plan(ckm.chunk_documents(docs, chunk_tokens=16, stride=12))
    assert "Exchange" not in plan  # split/sequence/transform/posexplode only
    assert "Python" not in plan  # pure codegen, no UDF


def test_speech_segments_single_exchange(spark):
    """Arrow decode is shuffle-free; both window passes and the segment
    aggregate share one HashPartitioning(clip_id) exchange."""
    df = spark.createDataFrame(
        [Row(clip_id="c", bytes=bytearray(ac.encode_clip(440.0, 16000, 3200, 0.5, "pcm_s16le")))]
    )
    plan = _plan(mm.speech_segments(df))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_asof_join_is_window_not_join(spark):
    """The as-of join compiles to union + window over ONE hash exchange —
    no join node of any kind (asof.py docstring claim)."""
    from shaclapi_spark.pipeline import asof

    left = spark.createDataFrame([Row(pid=1, k="a", us=100)])
    right = spark.createDataFrame([Row(vid=1, k="a", us=90)])
    plan = _plan(asof.asof_join(left, right, "k", "us", ["vid"]))
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "NestedLoop"):
        assert node not in plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The bucketized containment join must plan as a hash equi-join
    (broadcast or shuffled), never BroadcastNestedLoopJoin."""
    from shaclapi_spark.pipeline import interval

    points = spark.createDataFrame([Row(pid=1, us=150)])
    iv = spark.createDataFrame([Row(iid=1, s=100, e=200)])
    plan = _plan(interval.interval_join(points, iv, "us", "s", "e", bucket_us=1000))
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_curation_funnel_scan_budget(spark, docs):
    """The funnel counts come from per-row flags in ONE aggregate over at
    most THREE parquet scans — the narrow (id, gram) scan, the row-local
    flag scan, and the benchmark — never one corpus scan per stage
    branch (the round-2 anti-pattern was 5+). Two corpus scans are
    deliberate: a generator's companion expressions re-evaluate per
    emitted row, so quality/md5 must not ride the gram explode (see
    curate._flag_relation)."""
    from shaclapi_spark.pipeline import curate as cu, sampling as sp

    bench = sp.hash_sample(docs, "doc_id", rate=0.1, salt="b")
    _, funnel = cu.curate(docs, bench, min_tokens=5)
    plan = _plan(funnel)
    assert plan.count("Scan parquet") <= 3
    # the corpus text never crosses a shuffle — every hash-partition
    # exchange keys on ids/digests/flags, not the raw text column
    import re

    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in keys


def test_freshness_single_scan_single_exchange(spark):
    from datetime import datetime

    from shaclapi_spark.ops import stats as stats_ops

    df = spark.createDataFrame(
        [Row(g="a", ts=datetime(2024, 1, 1)), Row(g="b", ts=datetime(2024, 1, 2))]
    )
    plan = _plan(stats_ops.freshness_check(df, "g", "ts"))
    # the main plan scans the table ONCE (the slice-width min/max is a
    # separate 1-row job at build time) and carries two hash exchanges:
    # the table-sized one keys on (group, time-slice) — never the
    # low-cardinality group alone — and the second re-keys only the tiny
    # per-(group, slice) rollup for boundary gaps
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") <= 1
    import re

    table_keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("__b" in k and "g#" in k for k in table_keys), table_keys


def test_quantile_anomalies_broadcasts_bands(spark):
    from shaclapi_spark.ops import stats as stats_ops

    df = spark.createDataFrame(
        [Row(id=1, g="a", v=1.0), Row(id=2, g="a", v=2.0)]
    )
    plan = _plan(stats_ops.quantile_anomalies(df, "g", "v"))
    # the band relation (one row per group) comes back via broadcast —
    # the fact side is never exchanged for the verdict join
    assert "BroadcastHashJoin" in plan


def test_audio_transforms_shuffle_free(spark):
    from shaclapi_spark.pipeline import audio_transform as at

    df = spark.createDataFrame(
        [Row(clip_id="c", bytes=bytearray(ac.encode_clip(440.0, 16000, 700, 0.5, "pcm_s16le")))]
    )
    for op in (
        at.trim_silence(df),
        at.decimate(df, 4),
        at.pcm_fingerprint(df),
        at.transcode(df, "flac"),
    ):
        assert "Exchange" not in _plan(op)


def test_content_dup_groups_shuffles_digests_only(spark):
    from shaclapi_spark.pipeline import audio_transform as at

    df = spark.createDataFrame(
        [Row(clip_id="c", bytes=bytearray(ac.encode_clip(440.0, 16000, 700, 0.5, "pcm_s16le")))]
    )
    plan = _plan(at.content_dup_groups(df))
    # the digest groupBy only (countDistinct expands to two digest-keyed
    # exchanges: partial by (md5, codec), final by md5 — both tiny rows)
    assert plan.count("Exchange hashpartitioning") <= 2
    # payload bytes must not survive past the fingerprint projection:
    # everything above MapInPandas operates on digests and ids only
    above_map = plan.split("MapInPandas")[0]
    assert "bytes" not in above_map


def test_bigram_surprisal_single_corpus_scan(spark, docs):
    from shaclapi_spark.pipeline import corpus

    plan = _plan(corpus.bigram_surprisal(docs))
    # the (doc, bigram) count relation is persisted and all three consumers
    # (scoring join, model, context) must read the CACHE — the corpus-sized
    # explode executes once. (toString prints the cached subtree inside each
    # InMemoryTableScan, so counting Generate lines would overstate it.)
    assert plan.count("InMemoryTableScan") >= 3


def test_source_overlap_digest_only_shuffle(spark, docs):
    from shaclapi_spark.pipeline import corpus

    plan = _plan(corpus.source_overlap(docs))
    # text must collapse to md5 at the scan: no shuffle carries the text
    # column (the digest groupBys key on 'digest'/'src' only)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_drop_hot_groups_is_broadcast_anti_join(spark, docs):
    """The stop-bucket defusal must execute as a BROADCAST anti-join —
    the big relation never shuffles for the hot-set subtraction. A
    refactor that degrades it to a sort-merge/shuffled-hash anti-join
    re-introduces a corpus-wide exchange at exactly the scale the cap
    exists for."""
    from shaclapi_spark.pipeline.dedup import drop_hot_groups

    keyed = docs.select("doc_id", F.col("lang").alias("k"))
    plan = _plan(drop_hot_groups(keyed, ["k"], 10))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # the only exchanges are the hot-set aggregate's own (small side) +
    # its broadcast; the probe side reads straight from the scan
    assert "BroadcastExchange" in plan


def test_clip_suite_enters_python_only_for_the_snr_udf(spark, fixture_tables):
    """The SNR UDF is the suite's one Python boundary: the drift verdict
    rows are JVM-local, so neither action over the result scans a Python
    RDD (each such scan starts Python workers). Nodes are counted by their
    distinct text: a cached relation that already ran prints its final and
    its initial plan, so one node can appear twice."""
    from shaclapi_spark import engine, fixtures

    suite = fixtures.clip_suite(include_audio=True, include_drift=True)
    res = engine.run_suite(spark, suite, fixture_tables)
    for df in (res.verdicts, res.violations):
        plan = _plan(df)
        assert "Scan ExistingRDD" not in plan
        assert len(set(re.findall(r"ArrowEvalPython \[.*", plan))) == 1
    res.release()
