"""Pipeline E2E: checkpointing, resume, lineage/metrics, html extraction
invariant, substring pass, streaming dedup, similarity search, multimodal
plumbing."""

import shutil
import tempfile

import pytest

from fixtures.synth import extract_text, pages, render_html
from oracle.reference import connected_components as cc_oracle
from oracle.reference import jaccard_dup_pairs


@pytest.fixture(scope="module")
def corpus(spark):
    rows, truth_pairs, truth_clusters = pages(n=300, seed=21)
    df = spark.createDataFrame(
        [
            (r["doc_id"], r["url"], r["warc_ts"], bytearray(r["html"]), r["text"], r["lang"])
            for r in rows
        ],
        "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string",
    ).cache()
    return rows, df


def test_extraction_byte_identical(spark, corpus):
    """BASELINE.json per-row invariant: extract(html) == text per url."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.extract import extract_text_udf

    rows, df = corpus
    bad = df.withColumn("ext", extract_text_udf()(F.col("html"))).where(
        F.col("ext") != F.col("text")
    )
    assert bad.count() == 0
    # python-side inverse too
    for r in rows[:20]:
        assert extract_text(render_html(r["text"])) == r["text"]


def test_pipeline_end_to_end_and_resume(spark, corpus, monkeypatch):
    from fast_er_spark.catalog import StageCatalog
    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rows, df = corpus
    texts = {r["doc_id"]: r["text"] for r in rows}
    workdir = tempfile.mkdtemp(prefix="dedup_stage_")
    # every frame StageCatalog.write returns, and every append, by table
    written, appends = {}, []
    write, append = StageCatalog.write, StageCatalog.append

    def recording_write(self, frame, name):
        written[name] = write(self, frame, name)
        return written[name]

    def recording_append(self, frame, name):
        appends.append(name)
        return append(self, frame, name)

    monkeypatch.setattr(StageCatalog, "write", recording_write)
    monkeypatch.setattr(StageCatalog, "append", recording_append)
    try:
        cfg = DedupConfig(html_col="html", substring_pass=True)
        pipe = DedupPipeline(spark, workdir, cfg)
        clusters = pipe.run(df, resume=True)
        got = {int(r.id): int(r.component) for r in clusters.collect()}
        assert len(got) == len(rows)
        assert not any(s.resumed for s in pipe.results)

        # metrics + per-partition lineage recorded for every stage, plus
        # the star-cap telemetry counters (counters are metrics-only rows)
        stages = {r["stage"] for r in pipe.metrics().collect()}
        assert stages == set(pipe.STAGES) | {
            "star_candidates", "star_rejected_by_verify"
        }
        lin = pipe.lineage().groupBy("stage").count().collect()
        assert {r["stage"] for r in lin} == set(pipe.STAGES)
        # one _ledger append per stage, and the lineage rows of each stage
        # sum to its rows_out
        assert appends == ["_ledger"] * len(pipe.STAGES)
        rows_out = {r["stage"]: r["rows_out"] for r in pipe.metrics().collect()}
        lin_rows = {
            r["stage"]: r["rows"]
            for r in pipe.lineage().groupBy("stage").agg({"rows": "sum"})
            .withColumnRenamed("sum(rows)", "rows").collect()
        }
        assert lin_rows == {s: rows_out[s] for s in pipe.STAGES}
        assert {s.name: s.rows for s in pipe.results} == lin_rows
        # the frame write returns is the table as read back, schema and all
        assert set(written) == {pipe._stage_name(s) for s in pipe.STAGES}
        for name, frame in written.items():
            assert frame.schema == pipe.catalog.read(name).schema, name

        # duplicate-cluster quality: every verified-jaccard dup pair must be
        # co-clustered (substring edges may merge more, never less)
        want_pairs = jaccard_dup_pairs(texts, n=3, mode="word", threshold=0.8)
        co = sum(1 for a, b in want_pairs if got[a] == got[b])
        assert co / len(want_pairs) >= 0.99

        # RESUME: second run must read every stage back, same answer, and
        # record nothing: each stage and counter stays one metrics row. Its
        # rows come from the ledger, read once: no count and no schema
        # inference per stage
        appends.clear()
        pipe2 = DedupPipeline(spark, workdir, cfg)
        sc = spark.sparkContext
        sc.setJobGroup("full_resume", "full resume")
        try:
            clusters2 = pipe2.run(df, resume=True)
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup("full_resume")) <= 2
        assert all(s.resumed for s in pipe2.results)
        assert appends == []
        assert [(s.name, s.rows) for s in pipe2.results] == [
            (s.name, s.rows) for s in pipe.results
        ]
        names = [r["stage"] for r in pipe2.metrics().collect()]
        assert sorted(names) == sorted(stages), names
        got2 = {int(r.id): int(r.component) for r in clusters2.collect()}
        assert got2 == got

        # config change -> new fingerprint -> no stale reuse
        cfg3 = DedupConfig(html_col="html", substring_pass=False)
        pipe3 = DedupPipeline(spark, workdir, cfg3)
        pipe3.run(df, resume=True)
        assert not any(s.resumed for s in pipe3.results)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_pregroup_same_clusters(spark, corpus):
    """Exact copies and degenerate texts on the one dedup path: docs with
    byte-identical non-blank text share a cluster, while null / empty /
    whitespace texts (failed extractions on real corpora) stay singletons
    even though their texts are equal."""
    import datetime as dt

    from fixtures.synth import render_html

    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rows, df = corpus
    ts = dt.datetime(2024, 1, 1)
    degenerate = spark.createDataFrame(
        [
            (900001, "u/null1", ts, None, None, "en"),
            (900002, "u/null2", ts, None, None, "en"),
            (900003, "u/empty1", ts, bytearray(render_html("")), "", "en"),
            (900004, "u/empty2", ts, bytearray(render_html("")), "", "en"),
            (900005, "u/ws1", ts, bytearray(render_html("   ")), "   ", "en"),
            (900006, "u/ws2", ts, bytearray(render_html("   ")), "   ", "en"),
        ],
        "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string",
    )
    df = df.unionByName(degenerate)
    wd = tempfile.mkdtemp(prefix="dedup_exact_")
    try:
        got = {int(r.id): int(r.component) for r in DedupPipeline(
            spark, wd, DedupConfig(html_col="html")
        ).run(df).collect()}
        for d in range(900001, 900007):
            assert got[d] == d
        copies = {}
        for r in rows:
            copies.setdefault(r["text"], []).append(r["doc_id"])
        groups = [ids for t, ids in copies.items() if t.strip() and len(ids) > 1]
        assert groups, "fixture has no exact copies"
        for ids in groups:
            assert len({got[i] for i in ids}) == 1, ids
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_star_cap_skew_recall_and_telemetry(spark, tmp_path):
    """Zipf-stress for the hot-bucket star cap (lsh.py RECALL CAVEAT): a
    giant duplicate cluster (80 near-identical docs) with max_bucket_size=8
    forces star emission on every giant bucket. Asserts (a) co-cluster
    recall >= 0.99 with the caps binding, (b) the per-run telemetry counters
    exist and show the caps actually bound, (c) no same-cluster star edge
    was rejected (deterministic fixture, so exact)."""
    import random

    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rng = random.Random(5)
    vocab = [f"tok{i}" for i in range(5000)]
    base = [rng.choice(vocab) for _ in range(100)]
    rows, giant, did = [], [], 0
    for i in range(80):
        t = list(base)
        t[i % len(t)] = f"mut{i}"  # distinct 1-token mutation: pairwise
        # word-3-shingle Jaccard ~0.885, above the 0.8 verify threshold
        rows.append((did, " ".join(t)))
        giant.append(did)
        did += 1
    for _ in range(200):  # unique background docs
        rows.append((did, " ".join(rng.choice(vocab) for _ in range(60))))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cfg = DedupConfig(max_bucket_size=8, substring_pass=False, threshold=0.8)
    pipe = DedupPipeline(spark, str(tmp_path / "wd_star"), cfg)
    clusters = pipe.run(df)
    got = {int(r.id): int(r.component) for r in clusters.collect()}

    pairs = [(a, b) for i, a in enumerate(giant) for b in giant[:i]]
    co = sum(1 for a, b in pairs if got[a] == got[b])
    assert co / len(pairs) >= 0.99, co / len(pairs)

    m = {r["stage"]: int(r["rows_out"]) for r in pipe.metrics().collect()}
    assert m["star_candidates"] > 0  # the caps were binding, not idle
    assert m["star_rejected_by_verify"] == 0  # same-cluster stars all verify

    # verified rebuilt over a resumed candidates table: the star count then
    # comes from the candidates' ledger rows, and the counters repeat exactly
    import glob

    for path in glob.glob(str(tmp_path / "wd_star" / "verified_*")):
        shutil.rmtree(path)
    pipe2 = DedupPipeline(spark, str(tmp_path / "wd_star"), cfg)
    pipe2.run(df)
    resumed = {s.name: s.resumed for s in pipe2.results}
    assert resumed["candidates"] and not resumed["verified"]
    star_rows = sorted(
        (r["stage"], int(r["rows_out"]))
        for r in pipe2.metrics().where("stage LIKE 'star_%'").collect()
    )
    assert star_rows == sorted(
        [("star_candidates", m["star_candidates"]), ("star_rejected_by_verify", 0)] * 2
    )


class _BrokenGateway(Exception):
    pass


class _BrokenRddProbeSession:
    """A session whose persistent-RDD probe fails, as over a broken py4j
    gateway."""

    def __init__(self):
        self.sparkContext = self._jsc = self

    def getPersistentRDDs(self):  # noqa: N802 — JavaSparkContext's name
        raise _BrokenGateway("py4j gateway broke")


def test_failed_rdd_probe_raises_and_spares_caller_caches():
    """A stage whose persistent-RDD probe fails must raise before it
    builds anything: an empty 'preexisting' set would let the post-stage
    cleanup unpersist every caller-owned cache in the context."""
    from fast_er_spark.pipeline import DedupPipeline

    pipe = DedupPipeline(_BrokenRddProbeSession(), "/unused")
    built = []
    with pytest.raises(_BrokenGateway):
        pipe._run_stage("input", lambda: built.append(1))
    assert built == []


def test_pipeline_resumes_mid_run(spark, corpus):
    """Kill-and-resume: wipe the LAST two stage tables after a full run; the
    re-run must resume the surviving prefix and recompute only the tail
    (north_rule: 'resumable from checkpoint ... mid-run')."""
    import glob
    import os

    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rows, df = corpus
    workdir = tempfile.mkdtemp(prefix="dedup_midrun_")
    try:
        cfg = DedupConfig(html_col="html", substring_pass=False)
        pipe = DedupPipeline(spark, workdir, cfg)
        first = {(int(r.id), int(r.component)) for r in pipe.run(df).collect()}

        # simulate a mid-run crash: clusters + edges outputs lost
        for stage in ("clusters", "edges"):
            for path in glob.glob(os.path.join(workdir, f"{stage}_*")):
                shutil.rmtree(path)

        pipe2 = DedupPipeline(spark, workdir, cfg)
        second = {(int(r.id), int(r.component)) for r in pipe2.run(df).collect()}
        status = {s.name: s.resumed for s in pipe2.results}
        assert status["input"] and status["candidates"] and status["verified"]
        assert not status["edges"] and not status["clusters"]
        assert second == first
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_stage_killed_before_its_ledger_append_is_rebuilt(spark, corpus, monkeypatch):
    """The ledger, not the table, records a finished stage: a run killed
    between the ``verified`` write and its ledger append leaves a table but
    no record, so the re-run rebuilds ``verified`` (over the resumed
    candidates) and then records it and its star-cap counters."""
    from fast_er_spark.catalog import StageCatalog
    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rows, df = corpus
    workdir = tempfile.mkdtemp(prefix="dedup_crash_")
    write, append = StageCatalog.write, StageCatalog.append
    written = []

    def recording_write(self, frame, name):
        written.append(name)
        return write(self, frame, name)

    def crashing_append(self, frame, name):
        if written[-1].startswith("verified_"):
            raise RuntimeError("killed before the ledger append")
        return append(self, frame, name)

    try:
        cfg = DedupConfig(html_col="html", substring_pass=False)
        monkeypatch.setattr(StageCatalog, "write", recording_write)
        monkeypatch.setattr(StageCatalog, "append", crashing_append)
        with pytest.raises(RuntimeError, match="killed"):
            DedupPipeline(spark, workdir, cfg).run(df)
        monkeypatch.setattr(StageCatalog, "append", append)

        pipe = DedupPipeline(spark, workdir, cfg)
        pipe.run(df)
        resumed = {s.name: s.resumed for s in pipe.results}
        assert resumed["input"] and resumed["candidates"] and not resumed["verified"]
        stages = {r["stage"] for r in pipe.metrics().collect()}
        assert {"verified", "star_candidates", "star_rejected_by_verify"} <= stages
        assert "verified" in {r["stage"] for r in pipe.lineage().collect()}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_empty_stages_are_recorded(spark, tmp_path):
    """Blank docs pair with nothing, so every stage between input and
    clusters writes an empty table, which has no partition rows: each
    stage's ledger summary row still gives it a metrics row."""
    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["", " ", "\t", None, "  \n", ""])],
        "doc_id long, text string",
    )
    pipe = DedupPipeline(spark, str(tmp_path / "wd_empty"), DedupConfig())
    got = {int(r.id): int(r.component) for r in pipe.run(df).collect()}
    assert got == {i: i for i in range(6)}
    m = {r["stage"]: int(r["rows_out"]) for r in pipe.metrics().collect()}
    assert m == {
        "input": 6, "candidates": 0, "verified": 0, "substring_edges": 0,
        "substring_verified": 0, "edges": 0, "clusters": 6,
        "star_candidates": 0, "star_rejected_by_verify": 0,
    }
    lin = {r["stage"] for r in pipe.lineage().collect()}
    assert lin == {"input", "clusters"}


def test_substring_pass_catches_low_jaccard_containment(spark, corpus):
    """Planted long-shared-substring docs have low whole-doc Jaccard; the
    anchor pass must link them anyway."""
    from fast_er_spark.operators.substring import anchor_pairs

    rows, df = corpus
    docs = df.selectExpr("doc_id as id", "text")
    pairs = {
        (int(r.id_a), int(r.id_b))
        for r in anchor_pairs(docs, "id", "text", anchor_len=32, density=8).collect()
    }
    # containment fixtures: text of one doc embedded in another
    texts = {r["doc_id"]: r["text"] for r in rows}
    containment = {
        (max(i, j), min(i, j))
        for i in texts
        for j in texts
        if i != j and len(texts[j]) >= 64 and texts[j] in texts[i]
    }
    assert containment, "fixture planted no containment pairs"
    missed = containment - pairs
    assert not missed, f"anchor pass missed {sorted(missed)[:5]}"


def test_anchor_pairs_hot_anchor_star(spark):
    """Anchors held by at most ``max_anchor_freq`` docs pair as cliques;
    a hotter anchor becomes a star to its minimum holder; a pair reached
    through two anchors appears once."""
    from fast_er_spark.operators.substring import anchor_pairs

    # token_initial anchors: 8 chars from each token starting with a..e;
    # every other token starts with x..z and selects nothing
    texts = {
        10: "zq10 alphabet zz",
        11: "zq11 alphabet zz",
        12: "zq12 alphabet zz",
        13: "zq13 alphabet zz charlie9 zz",
        20: "zq20 bravo123 zz charlie9 zz",
        21: "zq21 bravo123 zz",
        30: "zq30 delta001 zz echo0001 zz",
        31: "zq31 delta001 zz echo0001 zz",
        40: "zq40 xylophone yy",
    }
    df = spark.createDataFrame(list(texts.items()), "id long, text string")
    got = sorted(
        (int(r.id_a), int(r.id_b))
        for r in anchor_pairs(
            df, "id", "text", anchor_len=8, max_anchor_freq=2, selector="token_initial"
        ).collect()
    )
    assert got == [(11, 10), (12, 10), (13, 10), (20, 13), (21, 20), (31, 30)], got


def test_streaming_exact_dedup(spark, corpus, tmp_path):
    from fast_er_spark.streaming.dedup_stream import streaming_dup_rate, streaming_exact_dedup

    rows, df = corpus
    src = str(tmp_path / "stream_src")
    df.select("doc_id", "warc_ts", "text").write.parquet(src)

    stream = spark.readStream.schema("doc_id long, warc_ts timestamp, text string").parquet(src)
    deduped = streaming_exact_dedup(stream, "text", "warc_ts")
    out = str(tmp_path / "stream_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_distinct_texts = df.select("text").distinct().count()
    assert got.count() == n_distinct_texts
    assert got.select("text").distinct().count() == n_distinct_texts

    rate = streaming_dup_rate(stream, "text", "warc_ts", window="10 minutes")
    out2 = str(tmp_path / "rate_out")
    q2 = (
        rate.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # append mode emits only watermark-closed windows; schema must hold
    assert spark.read.parquet(out2).columns == [
        "window_start", "n_docs", "n_distinct", "dup_rate"
    ]


def test_similarity_lsh_recall(spark):
    import numpy as np

    from fast_er_spark.operators.similarity import cosine_topk, lsh_topk

    rng = np.random.default_rng(3)
    dim, n_clusters, per = 32, 64, 6
    # planted neighborhood structure (uniform-random vectors have no
    # neighbors to find — cos(NN) ~ 0.35 — and defeat any ANN index)
    cents = rng.standard_normal((n_clusters, dim))
    vecs = np.repeat(cents, per, axis=0) + 0.15 * rng.standard_normal(
        (n_clusters * per, dim)
    )
    n = len(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = df.where("vec_id < 10")
    exact = {
        (r.qid, r.vid) for r in cosine_topk(q, df, k=5).collect()
    }
    approx = {
        (r.qid, r.vid)
        for r in lsh_topk(q, df, dim=dim, k=5, n_planes=8, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_multimodal_plumbing(spark):
    from fast_er_spark.operators.multimodal import attach_fake_media, media_features

    df = spark.range(50).withColumnRenamed("id", "doc_id")
    media = attach_fake_media(df, "doc_id")
    feats = media_features(media, "doc_id", decode="fake")
    rows = feats.collect()
    assert len(rows) == 50
    assert all(0.0 <= r.mean_r <= 255.0 for r in rows)
    # determinism
    rows2 = media_features(media, "doc_id", decode="fake").collect()
    assert {(r.id, r.mean_r) for r in rows} == {(r.id, r.mean_r) for r in rows2}
    # real decode is an explicit stub
    import pytest as _pytest

    with _pytest.raises(Exception):
        media_features(media, "doc_id", decode="real").collect()


def test_boilerplate_sentence_does_not_merge_clusters(spark, tmp_path):
    """One shared boilerplate sentence (> anchor_len, < min_span) must stay a
    CANDIDATE and be dropped by span verification; a true containment pair
    (full doc embedded) must still merge (round-1 VERDICT wrong #5)."""
    import random

    from fixtures.synth import VOCAB

    from fast_er_spark.operators.substring import anchor_pairs
    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    rng = random.Random(5)
    boiler = "all rights reserved contact the webmaster for licensing and reprint permissions"
    assert 32 < len(boiler) < 96
    mk = lambda k: " ".join(rng.choice(VOCAB) for _ in range(k))
    doc_a = mk(60) + " " + boiler
    doc_b = boiler + " " + mk(60)
    root = mk(40)
    assert len(root) >= 96
    doc_d = mk(10) + " " + root + " " + mk(10)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b), (2, root), (3, doc_d)], "doc_id long, text string"
    )

    # the boilerplate pair IS an anchor candidate (otherwise this test
    # proves nothing about verification)
    cand = {
        (r.id_a, r.id_b)
        for r in anchor_pairs(
            df.selectExpr("doc_id as id", "text"), "id", "text",
            anchor_len=32, density=8,
        ).collect()
    }
    assert (1, 0) in cand, cand

    pipe = DedupPipeline(spark, str(tmp_path / "wd"), DedupConfig())
    got = {int(r.id): int(r.component) for r in pipe.run(df).collect()}
    assert got[0] != got[1], got   # boilerplate: verified span < 96 -> no merge
    assert got[2] == got[3], got   # containment: span = len(root) >= 96 -> merge


def test_dedup_config_rejects_char_mode():
    """Verification shingles words, so the pipeline has no shingle-mode
    setting at all: a char-mode config is refused at construction, before
    any stage runs. The default config keeps the fingerprint of the former
    word-mode, oph_jvm default, so existing stage tables still resume."""
    from fast_er_spark.pipeline import DedupConfig

    with pytest.raises(TypeError, match="mode"):
        DedupConfig(mode="char")
    assert DedupConfig().fingerprint() == "c4f1e8bec72c1bb4"


def test_streaming_near_dup_lsh(spark, corpus, tmp_path):
    """Stateful streaming LSH (applyInPandasWithState): near-dup candidates
    must cover >=99% of true Jaccard>=0.8 pairs across micro-batches (state
    carries between batches: maxFilesPerTrigger=1 over 4 files). Blank and
    whitespace-only docs sign NULL under the JVM kernel and must never pair
    — not with each other, not with anything."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from fast_er_spark.streaming.dedup_stream import streaming_near_dup

    rows, df = corpus
    texts = {r["doc_id"]: r["text"] for r in rows}
    src = str(tmp_path / "nd_src")
    # 4 event-time-ordered files -> 4 micro-batches
    base = df.select("doc_id", "warc_ts", "text").collect()
    # blank docs spread over the event-time range, so every micro-batch
    # sees some of them
    top = max(texts)
    blanks = ["", "", "", " ", "\t\n ", "   \r\n  "]
    blank_ids = set()
    for k, t in enumerate(blanks):
        blank_ids.add(top + 1 + k)
        ts = base[(k * len(base)) // len(blanks)].warc_ts
        base.append(Row(doc_id=top + 1 + k, warc_ts=ts, text=t))
    base.sort(key=lambda r: r.warc_ts)
    import os
    os.makedirs(src)
    chunk = (len(base) + 3) // 4
    for i in range(4):
        part = base[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part).coalesce(1).write.parquet(f"{src}/f{i}.parquet")
    stream = (
        spark.readStream.schema("doc_id long, warc_ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    flagged = streaming_near_dup(stream, "doc_id", "text", "warc_ts", min_est=0.5)
    out = str(tmp_path / "nd_out")
    q = (
        flagged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (max(int(r.id), int(r.prior_id)), min(int(r.id), int(r.prior_id)))
        for r in spark.read.parquet(out).collect()
    }
    assert all(a != b for a, b in got)
    assert not {i for p in got for i in p} & blank_ids

    # the operator emits ONE best prior per colliding doc (star edges —
    # clustering closes the rest, same as the batch star guard), so the
    # contract is CO-CLUSTERING of true dup pairs, not per-pair emission
    from oracle.reference import jaccard_dup_pairs

    want = jaccard_dup_pairs(texts, n=3, mode="word", threshold=0.8)
    assert want
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    co = sum(1 for a, b in want if find(a) == find(b))
    recall = co / len(want)
    assert recall >= 0.99, (recall, sorted(want)[:5])


def test_similarity_ivf_recall(spark):
    """IVF index (coarse k-means cells + n_probe search) must hit >=0.8
    recall of exact cosine top-5 on clustered embeddings."""
    import numpy as np

    from fast_er_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 32, 64, 6
    cents = rng.standard_normal((n_clusters, dim))
    vecs = np.repeat(cents, per, axis=0) + 0.15 * rng.standard_normal(
        (n_clusters * per, dim)
    )
    n = len(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = df.where("vec_id < 10")
    exact = {(r.qid, r.vid) for r in cosine_topk(q, df, k=5).collect()}
    approx = {
        (r.qid, r.vid)
        for r in ivf_topk(q, df, dim=dim, k=5, n_cells=32, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_similarity_ivf_recall_cluster_ordered_corpus(spark):
    """Codebook-sample bias regression (round-2 ADVICE): the corpus rows are
    ordered BY CLUSTER (the worst case for a take-first-partitions sample)
    and the training sample is far smaller than the corpus. The hash-ordered
    sample must still see every region of the space, keeping probe recall
    >=0.8; the old limit()-based sample saw only the first clusters and
    collapsed on the rest."""
    import numpy as np

    from fast_er_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 32, 40, 15
    cents = rng.standard_normal((n_clusters, dim))
    vecs = np.repeat(cents, per, axis=0) + 0.12 * rng.standard_normal(
        (n_clusters * per, dim)
    )
    n = len(vecs)  # 600, cluster-ordered by construction
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).coalesce(2).cache()
    q = df.where("vec_id % 37 = 0")  # queries spread across ALL clusters
    exact = {(r.qid, r.vid) for r in cosine_topk(q, df, k=5).collect()}
    approx = {
        (r.qid, r.vid)
        for r in ivf_topk(
            q, df, dim=dim, k=5, n_cells=24, n_probe=5, sample=150
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
