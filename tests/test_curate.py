"""End-to-end tests for the corpus-curation pipeline CLI (curate.py)."""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark import curate as cur


def _fresh_key(prefix: str) -> str:
    """An index cache key no earlier run used. The write-once LSH index
    cache outlives pytest's numbered temp dirs, so a key built from
    ``tmp_path`` alone can name an artifact an earlier session left."""
    return f"{prefix}_{uuid.uuid4().hex}"


@pytest.fixture()
def corpus(spark):
    """Small corpus with known exact dups, near dups, and junk docs."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the green forest to find some quiet water and rest "
        "for a while before the long journey home through the hills"
    )
    near = base.replace("quiet water", "calm water")  # ~1-shingle delta
    rows = [
        (1, base),
        (2, base),            # exact dup of 1
        (3, near),            # near dup of 1
        (4, "an entirely different document about the history of steam "
            "engines and the people who built them across many countries "
            "during the early industrial era with great effort and care"),
        (5, "123 456 789 @@@ ### $$$"),  # junk: low alpha ratio, no stopwords
        (6, ""),              # empty text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_stage_counts_and_schema(spark, corpus):
    out, obs = cur.curate(spark, corpus, min_quality=0.5, skip=frozenset({"classifier"}))
    rows = out.collect()
    stats = {k: o.get["rows"] for k, o in obs.items()}

    assert stats["input"] == 6
    assert stats["exact"] == 5          # doc 2 dropped (exact dup)
    assert stats["neardup"] == 4        # doc 3 dropped (near dup of 1)
    assert stats["quality"] == 2        # junk + empty dropped
    assert stats["output"] == len(rows) == 2
    kept = sorted(r.doc_id for r in rows)
    assert kept == [1, 4]

    cols = set(out.columns)
    assert {"doc_id", "text", "quality", "lang_pred", "n_tokens",
            "split", "shard"} <= cols
    for r in rows:
        assert r.split in ("train", "val", "test")
        assert 0 <= r.shard < 64
        assert r.lang_pred == "en"
        assert r.quality >= 0.5


def test_curate_survivor_policy_prefers_longest(spark):
    """Within a near-dup cluster the longest doc wins, ties to min id."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    longer = base + " psi omega extra tokens beyond the shared prefix"
    df = spark.createDataFrame(
        [(10, base), (11, longer)], "doc_id long, text string"
    )
    out, _ = cur.curate(
        spark, df, min_quality=0.0, neardup_threshold=0.5,
        skip=frozenset({"classifier", "quality", "scrub"}),
    )
    kept = [r.doc_id for r in out.collect()]
    assert kept == [11]


def test_curate_scrub_masks_pii(spark):
    filler = " ".join(["the quick brown fox jumps over lazy dogs"] * 5)
    df = spark.createDataFrame(
        [(1, f"{filler} contact bob@example.com or https://ex.com/x")],
        "doc_id long, text string",
    )
    out, _ = cur.curate(
        spark, df, skip=frozenset({"exact", "neardup", "quality", "classifier"})
    )
    txt = out.collect()[0].text
    assert "<EMAIL>" in txt and "<URL>" in txt
    assert "bob@example.com" not in txt and "ex.com" not in txt


def test_curate_split_deterministic_and_skip_validation(spark, corpus):
    out1, _ = cur.curate(spark, corpus, skip=frozenset({"classifier"}))
    out2, _ = cur.curate(spark, corpus, skip=frozenset({"classifier"}))
    a = {(r.doc_id, r.split, r.shard) for r in out1.collect()}
    b = {(r.doc_id, r.split, r.shard) for r in out2.collect()}
    assert a == b
    with pytest.raises(ValueError, match="unknown stages"):
        cur.curate(spark, corpus, skip=frozenset({"nonsense"}))


def test_curate_cli_end_to_end(spark, tmp_path, sf_dir):
    out_dir = str(tmp_path / "curated")
    rc = cur.main([
        "--input", os.path.join(sf_dir, "documents.parquet"),
        "--output", out_dir,
        "--min-quality", "0.3",
        "--skip", "classifier",
        "--splits", "train=0.8,val=0.1,test=0.1",
        "--shards", "8",
    ])
    assert rc == 0
    stats = json.load(open(os.path.join(out_dir, "stats.json")))
    assert stats["input"] > 0
    assert 0 < stats["output"] <= stats["input"]
    got = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert got.count() == stats["output"]
    # the pipeline's invariants hold on the written output
    assert got.filter(F.col("quality") < 0.3).count() == 0
    dup = got.groupBy(F.md5("text")).count().filter(F.col("count") > 1)
    assert dup.count() == 0
    assert set(r.split for r in got.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }


def test_curate_trained_classifier_gate(spark, sf_dir):
    """Trained mode: the model learns the heuristic gate's labels well
    enough that its gate agrees with the heuristic on most docs."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out, obs = cur.curate(
        spark, docs, min_quality=0.5, clf_mode="trained",
        clf_train_fraction=1.0, clf_train_iters=8,
        skip=frozenset({"scrub", "exact", "neardup"}),
    )
    rows = out.collect()
    stats = {k: o.get["rows"] for k, o in obs.items()}
    assert "p_keep" in out.columns
    # the quality gate already passed these docs (label=1 for all of
    # them at training time), so a minimally-fit model keeps most
    assert stats["classifier"] >= 0.8 * stats["quality"]
    assert all(r.p_keep > 0.5 for r in rows)


def test_curate_rejects_bad_clf_mode(spark, corpus):
    with pytest.raises(ValueError, match="clf_mode"):
        cur.curate(spark, corpus, clf_mode="nope")


def test_curate_incremental_against_corpus(spark):
    """Incremental mode: batch docs already in (or near) the corpus are
    dropped; genuinely new docs survive."""
    corp_a = ("the quick brown fox jumps over the lazy dog and then runs "
              "far away into the deep green forest to find calm water and "
              "rest for a while before the long journey home through hills")
    corp_b = ("steam engines changed the shape of industry and the people "
              "who built them worked across many countries with great "
              "effort and care during the early era of mechanical power")
    corpus = spark.createDataFrame(
        [(1, corp_a), (2, corp_b)], "doc_id long, text string"
    )
    fresh = ("a completely new treatise about gardens and the quiet art "
             "of growing tomatoes beans and flowers through the seasons "
             "with patience water sunshine and a little bit of luck")
    batch = spark.createDataFrame(
        [
            (101, corp_a),                                    # exact dup of corpus
            (102, corp_b.replace("great effort", "huge effort")),  # near dup
            (103, fresh),                                     # genuinely new
        ],
        "doc_id long, text string",
    )
    out, obs = cur.curate(
        spark, batch, min_quality=0.0, neardup_threshold=0.5,
        skip=frozenset({"classifier", "quality", "scrub"}),
        corpus=corpus,
    )
    kept = sorted(r.doc_id for r in out.collect())
    stats = {k: o.get["rows"] for k, o in obs.items()}
    assert kept == [103]
    assert stats["input"] == 3
    assert stats["exact_vs_corpus"] == 2      # 101 dropped
    assert stats["neardup_vs_corpus"] == 1    # 102 dropped
    assert stats["output"] == 1


def test_curate_incremental_cached_index(spark, tmp_path):
    """The cached-index path probes the same pairs as the in-session
    index and is idempotent across calls."""
    corp = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega and some more words to pad the shingle set out")
    corpus = spark.createDataFrame([(1, corp)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(201, corp.replace("pad", "fill")), (202, "totally unrelated words "
          "about cooking pasta with garlic olive oil and fresh basil "
          "leaves picked from the garden just before dinner was served")],
        "doc_id long, text string",
    )
    import good_enough_timecamp_data_pipeline_spark.operators.dedup as dd

    kept = []
    for _ in range(2):  # second call must hit the on-disk artifact
        out, _ = cur.curate(
            spark, batch, min_quality=0.0, neardup_threshold=0.5,
            skip=frozenset({"classifier", "quality", "scrub"}),
            corpus=corpus,
            lsh_cache_key="test_curate_incr_v1",
        )
        kept.append(sorted(r.doc_id for r in out.collect()))
    assert kept[0] == kept[1] == [202]


def test_curate_cli_incremental(spark, tmp_path):
    """CLI incremental flow: land a corpus, curate a delta batch against
    it, and check the cross-corpus stages appear in stats.json."""
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, corp)], "doc_id long, text string"
    ).write.parquet(corpus_path)
    batch_path = str(tmp_path / "batch")
    fresh = ("a brand new essay on the craft of baking bread with flour "
             "water salt and patience where the slow rise of the dough "
             "rewards the baker who waits for the oven to warm through")
    spark.createDataFrame(
        [(101, corp), (102, fresh)], "doc_id long, text string"
    ).write.parquet(batch_path)

    out_dir = str(tmp_path / "delta")
    rc = cur.main([
        "--input", batch_path,
        "--output", out_dir,
        "--corpus", corpus_path,
        "--min-quality", "0.0",
        "--skip", "classifier,quality",
    ])
    assert rc == 0
    stats = json.load(open(os.path.join(out_dir, "stats.json")))
    assert stats["input"] == 2
    assert stats["exact_vs_corpus"] == 1   # the corpus copy dropped
    assert stats["output"] == 1
    got = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert [r.doc_id for r in got.collect()] == [102]


def test_curate_cli_profile(spark, tmp_path, sf_dir):
    out_dir = str(tmp_path / "curated_prof")
    rc = cur.main([
        "--input", os.path.join(sf_dir, "documents.parquet"),
        "--output", out_dir,
        "--min-quality", "0.3",
        "--skip", "classifier,neardup",
        "--profile",
    ])
    assert rc == 0
    prof = json.load(open(os.path.join(out_dir, "profile.json")))
    stats = json.load(open(os.path.join(out_dir, "stats.json")))
    assert prof and all(
        {"split", "lang_pred", "n_docs", "total_tokens",
         "mean_quality"} <= set(p) for p in prof
    )
    assert sum(p["n_docs"] for p in prof) == stats["output"]


@pytest.mark.slow_e2e
def test_curate_stream_continuous(spark, tmp_path):
    """Streaming curation: per-micro-batch incremental curation against
    the corpus, plus exact dedup against previously ACCEPTED arrivals."""
    import glob
    import shutil

    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    fresh_b = ("an essay on kites and the wind that carries them over the "
               "beach where children run with string in hand while gulls "
               "wheel above the waves in the bright light of afternoon")
    fresh_c = ("notes about the night sky and the slow wheel of stars "
               "that turns above the sleeping town while the lighthouse "
               "blinks its patient code out across the dark water")
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )

    feed = tmp_path / "feed"
    feed.mkdir()

    def land(batch_rows, name):
        staging = str(tmp_path / f"staging_{name}")
        spark.createDataFrame(
            batch_rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        shutil.move(part, str(feed / f"{name}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)

    land([(101, corp), (102, fresh_b)], "b0")          # 101 = corpus dup
    land([(201, fresh_b), (202, fresh_c)], "b1")       # 201 = dup of accepted 102

    out_dir = str(tmp_path / "stream_out")
    out_docs = cur.curate_stream(
        spark, str(feed), corpus_path, out_dir,
        min_quality=0.0,
        skip=frozenset({"classifier", "quality", "scrub"}),
        drift=True,
    )
    got = spark.read.parquet(out_docs)
    kept = sorted(r.doc_id for r in got.collect())
    assert kept == [102, 202]
    stats0 = json.load(open(os.path.join(out_dir, "stats", "batch_0.json")))
    assert stats0["input"] == 2 and stats0["exact_vs_corpus"] == 1
    # drift telemetry rides next to the stage counters, per micro-batch
    for b in (0, 1):
        st = json.load(open(os.path.join(out_dir, "stats", f"batch_{b}.json")))
        assert {"token_count_ks", "ks_significant", "token_kl",
                "kl_flagged"} <= set(st["drift"])
    # per-batch partition dirs exist (the replay-idempotent sink layout)
    assert sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out_docs, "batch=*"))
    ) == ["batch=0", "batch=1"]


@pytest.mark.slow_e2e
def test_curate_stream_restart_resumes(spark, tmp_path):
    """Restart with the same checkpoint: already-processed feed files
    are not re-emitted; new arrivals land as the next batch id."""
    import glob
    import shutil

    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    doc_b = ("a pocket guide to rivers and the stones they polish on the "
             "way down from the mountains to the sea through valleys and "
             "quiet farmland where herons stand and watch the current")
    doc_c = ("a short history of bicycles and the roads they opened for "
             "people who had never traveled past the edge of their own "
             "village before the wheel made the horizon reachable")
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    feed = tmp_path / "feed"
    feed.mkdir()

    def land(batch_rows, name):
        staging = str(tmp_path / f"staging_{name}")
        spark.createDataFrame(
            batch_rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        shutil.move(part, str(feed / f"{name}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    common = dict(min_quality=0.0,
                  skip=frozenset({"classifier", "quality", "scrub"}))

    land([(11, doc_b)], "b0")
    out_docs = cur.curate_stream(
        spark, str(feed), corpus_path, out_dir, checkpoint_dir=ckpt, **common
    )
    first = sorted(r.doc_id for r in spark.read.parquet(out_docs).collect())
    assert first == [11]

    land([(12, doc_c)], "b1")
    cur.curate_stream(
        spark, str(feed), corpus_path, out_dir, checkpoint_dir=ckpt, **common
    )
    rows = spark.read.parquet(out_docs).collect()
    assert sorted(r.doc_id for r in rows) == [11, 12]  # no dup, no loss
    assert {r.batch for r in rows} == {0, 1}


def test_compact_index_closes_cross_arrival_blind_spot(spark, tmp_path):
    """After compaction, a near-dup of a STREAM-ACCEPTED doc (invisible
    to the original corpus index) is caught by the next generation."""
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    accepted = ("a pocket guide to rivers and the stones they polish on "
                "the way down from the mountains to the sea through green "
                "valleys and quiet farmland where herons watch the water")
    corpus_path = str(tmp_path / "corpus")
    accepted_path = str(tmp_path / "accepted")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    spark.createDataFrame(
        [(101, accepted)], "doc_id long, text string"
    ).write.parquet(accepted_path)

    # key is unique per test invocation: compact_index builds with
    # expect_fresh=True, so a key recycled across pytest sessions would
    # (correctly) be rejected as a stale-index hazard
    gen2_key = _fresh_key("test_compact_gen2")
    compacted = cur.compact_index(
        spark, corpus_path, accepted_path, str(tmp_path / "gen2"),
        lsh_cache_key=gen2_key,
    )
    # probe a near-dup of the ACCEPTED doc against the new generation
    batch = spark.createDataFrame(
        [(201, accepted.replace("quiet farmland", "still farmland"))],
        "doc_id long, text string",
    )
    out, obs = cur.curate(
        spark, batch, min_quality=0.0, neardup_threshold=0.5,
        skip=frozenset({"classifier", "quality", "scrub"}),
        corpus=spark.read.parquet(compacted),
        lsh_cache_key=gen2_key,
    )
    assert out.collect() == []
    assert obs["neardup_vs_corpus"].get["rows"] == 0
    # the old corpus index alone would NOT have caught it
    out_old, _ = cur.curate(
        spark, batch, min_quality=0.0, neardup_threshold=0.5,
        skip=frozenset({"classifier", "quality", "scrub"}),
        corpus=spark.read.parquet(corpus_path),
    )
    assert [r.doc_id for r in out_old.collect()] == [201]


@pytest.mark.slow_e2e
def test_curate_stream_replay_uncommitted_batch(spark, tmp_path):
    """Replay of an UNCOMMITTED micro-batch (crash between sink write
    and checkpoint commit) re-emits the same partition intact instead of
    anti-joining the batch against its own landed copy and rewriting the
    partition empty (round-8 ADVICE item 1)."""
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    doc_b = ("a pocket guide to rivers and the stones they polish on the "
             "way down from the mountains to the sea through valleys and "
             "quiet farmland where herons stand and watch the current")
    doc_c = ("a short history of bicycles and the roads they opened for "
             "people who had never traveled past the edge of their own "
             "village before the wheel made the horizon reachable")
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    out_docs = str(tmp_path / "out" / "docs")
    stats_dir = str(tmp_path / "out" / "stats")
    os.makedirs(stats_dir)
    common = dict(corpus_path=corpus_path, out_docs=out_docs,
                  stats_dir=stats_dir, lsh_cache_key=None, min_quality=0.0,
                  skip=frozenset({"classifier", "quality", "scrub"}))

    b0 = spark.createDataFrame([(11, doc_b)], "doc_id long, text string")
    cur._curate_one_batch(b0, 0, **common)
    assert sorted(r.doc_id for r in spark.read.parquet(out_docs).collect()) == [11]

    # replay batch 0 (its partition is already landed): must re-emit it
    cur._curate_one_batch(b0, 0, **common)
    rows = spark.read.parquet(out_docs).collect()
    assert sorted(r.doc_id for r in rows) == [11]
    stats0 = json.load(open(os.path.join(stats_dir, "batch_0.json")))
    assert stats0["landed"] == 1

    # batch 1: one dup of the batch-0 accepted doc + one fresh doc; the
    # cross-batch anti-join still applies to EARLIER batches
    b1 = spark.createDataFrame(
        [(21, doc_b), (22, doc_c)], "doc_id long, text string"
    )
    cur._curate_one_batch(b1, 1, **common)
    assert sorted(r.doc_id for r in spark.read.parquet(out_docs).collect()) \
        == [11, 22]
    stats1 = json.load(open(os.path.join(stats_dir, "batch_1.json")))
    # 'output' counts the pre-anti-join candidate set, 'landed' what was
    # actually written after dropping dups of earlier accepted arrivals
    assert stats1["output"] == 2 and stats1["landed"] == 1

    # replay batch 1 too: converges to the same state
    cur._curate_one_batch(b1, 1, **common)
    assert sorted(r.doc_id for r in spark.read.parquet(out_docs).collect()) \
        == [11, 22]
    stats1 = json.load(open(os.path.join(stats_dir, "batch_1.json")))
    assert stats1["landed"] == 1


def test_curate_stream_replay_read_prunes_current_partition(spark, tmp_path):
    """The replay anti-join's ``batch != id`` filter must reach the scan
    as a PARTITION filter: at scale the landed output is the whole
    accepted corpus, and the filter is also what keeps the job from
    reading the very directory it is about to overwrite."""
    import re

    from pyspark.sql import functions as F

    d = str(tmp_path / "docs")
    for b in (0, 1):
        spark.range(5).withColumn("text", F.lit("x")).write.parquet(
            f"{d}/batch={b}"
        )
    df = spark.read.parquet(d).filter(F.col("batch") != F.lit(1))
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "batch" in m.group(1) and "NOT" in m.group(1), plan[:800]
    assert df.count() == 5  # only batch=0 rows survive


def test_compact_index_rejects_reused_key(spark, tmp_path):
    """Reusing a --corpus-key for a NEW generation is an error, not a
    silent stale-index read (round-8 ADVICE item 2)."""
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water")
    acc = ("notes about the night sky and the slow wheel of stars that "
           "turns above the sleeping town while the lighthouse blinks")
    corpus_path = str(tmp_path / "c")
    accepted_path = str(tmp_path / "a")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    spark.createDataFrame([(2, acc)], "doc_id long, text string").write.parquet(
        accepted_path
    )
    key = _fresh_key("test_reused_key")
    cur.compact_index(
        spark, corpus_path, accepted_path, str(tmp_path / "gen2"),
        lsh_cache_key=key,
    )
    with pytest.raises(FileExistsError, match="already exists"):
        cur.compact_index(
            spark, str(tmp_path / "gen2"), accepted_path,
            str(tmp_path / "gen3"), lsh_cache_key=key,
        )


def test_corpus_fingerprint_tracks_rewrites(tmp_path):
    """The default incremental cache key changes when the corpus is
    rewritten — even within the same wall-clock second (round-8 ADVICE
    item 3) — and is stable across re-reads of the same generation."""
    root = tmp_path / "corpus"
    root.mkdir()
    f = root / "part-000.parquet"
    f.write_bytes(b"generation-one")
    fp1 = cur._corpus_fingerprint(str(root))
    assert fp1 == cur._corpus_fingerprint(str(root))  # stable
    # same file name + size, mtime bumped by one NANOsecond (same second)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert cur._corpus_fingerprint(str(root)) != fp1
    # different file listing (Spark rewrites land new part names)
    f.rename(root / "part-001.parquet")
    assert cur._corpus_fingerprint(str(root)) not in (
        fp1, cur._corpus_fingerprint(str(tmp_path))
    )


def test_curate_idempotent_on_own_output(spark, sf_dir, tmp_path):
    """Curating an already-curated corpus is the identity: no stage may
    drop anything the pipeline itself produced. (The re-run reads the
    LANDED output, the production shape — re-curation starts from
    storage, not from a live lineage of the first pipeline.)"""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    once, _ = cur.curate(spark, docs, min_quality=0.3,
                         skip=frozenset({"classifier"}))
    landed = str(tmp_path / "once")
    once.select("doc_id", "text").write.parquet(landed)
    base = spark.read.parquet(landed)
    twice, obs = cur.curate(spark, base, min_quality=0.3,
                            skip=frozenset({"classifier"}))
    stats = {k: o.get["rows"] for k, o in obs.items()}
    assert stats["input"] == stats["exact"] == stats["neardup"] \
        == stats["quality"] == stats["output"]
    a = sorted(r.doc_id for r in base.collect())
    b = sorted(r.doc_id for r in twice.collect())
    assert a == b


def test_curate_cli_compact(spark, tmp_path):
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water")
    acc = ("notes about the night sky and the slow wheel of stars that "
           "turns above the sleeping town while the lighthouse blinks")
    corpus_path = str(tmp_path / "c")
    accepted_path = str(tmp_path / "a")
    spark.createDataFrame([(1, corp)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    spark.createDataFrame([(2, acc)], "doc_id long, text string").write.parquet(
        accepted_path
    )
    out = str(tmp_path / "gen2")
    rc = cur.main([
        "--compact",
        "--input", accepted_path,
        "--corpus", corpus_path,
        "--corpus-key", _fresh_key("test_cli_compact"),
        "--output", out,
    ])
    assert rc == 0
    assert spark.read.parquet(out).count() == 2
    # missing key is a usage error
    assert cur.main(["--compact", "--input", accepted_path,
                     "--corpus", corpus_path, "--output", out]) == 2


def test_drift_report_flags_seeded_drift_only(spark):
    """The drift monitor's contract: a batch drawn from the corpus
    distribution does NOT flag; a seeded drifted batch (disjoint
    vocabulary, 4× lengths) flags BOTH signals. Deterministic corpora,
    no randomness."""
    from good_enough_timecamp_data_pipeline_spark.operators import drift

    vocab_a = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
               "golf", "hotel", "india", "juliet"]
    vocab_b = ["zulu", "yankee", "xray", "whiskey", "victor"]

    def doc(vocab, length, i):
        return " ".join(vocab[(i + j) % len(vocab)] for j in range(length))

    ref = spark.createDataFrame(
        [(i, doc(vocab_a, 20 + i % 40, i)) for i in range(400)],
        "doc_id long, text string",
    )
    same = spark.createDataFrame(
        [(1000 + i, doc(vocab_a, 20 + i % 40, i)) for i in range(100)],
        "doc_id long, text string",
    )
    drifted = spark.createDataFrame(
        [(2000 + i, doc(vocab_b, 200, i)) for i in range(100)],
        "doc_id long, text string",
    )

    stats = drift.reference_stats(ref, cache_key="t_drift_ref")
    ok = drift.drift_report(same, ref_stats=stats)
    bad = drift.drift_report(drifted, ref_stats=stats)

    assert not ok["ks_significant"] and not ok["kl_flagged"]
    assert ok["token_kl"] < 0.05
    assert bad["ks_significant"] and bad["kl_flagged"]
    assert bad["token_count_ks"] > ok["token_count_ks"]
    assert bad["token_kl"] > 1.0
    # reference aggregates are cached per corpus identity (the stream's
    # write-once-corpus discipline): same key returns the same object
    assert drift.reference_stats(ref, cache_key="t_drift_ref") is stats


def test_curate_cli_drift_report(spark, tmp_path):
    """--drift-report with --corpus embeds the drift section in
    stats.json; without --corpus it is a usage error."""
    corp = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to find calm water and "
            "rest for a while before the long journey home through hills")
    corpus_path = str(tmp_path / "dr_corpus")
    spark.createDataFrame(
        [(1, corp)], "doc_id long, text string"
    ).write.parquet(corpus_path)
    batch_path = str(tmp_path / "dr_batch")
    spark.createDataFrame(
        [(101, corp)], "doc_id long, text string"
    ).write.parquet(batch_path)

    out_dir = str(tmp_path / "dr_out")
    rc = cur.main([
        "--input", batch_path,
        "--output", out_dir,
        "--corpus", corpus_path,
        "--min-quality", "0.0",
        "--skip", "classifier,quality,neardup",
        "--drift-report",
    ])
    assert rc == 0
    stats = json.load(open(os.path.join(out_dir, "stats.json")))
    d = stats["drift"]
    assert {"token_count_ks", "ks_significant", "token_kl",
            "kl_flagged", "n_batch_docs", "n_ref_docs"} <= set(d)
    # an identical doc set cannot drift
    assert d["token_count_ks"] == 0.0 and d["token_kl"] == 0.0
    assert not d["ks_significant"] and not d["kl_flagged"]

    assert cur.main([
        "--input", batch_path, "--output", out_dir, "--drift-report",
    ]) == 2


def test_curate_containment_mode_drops_excerpt(spark):
    """The VERDICT-mandated miss case: a ~40% verbatim excerpt of a
    source doc has jaccard ≈ 0.4 (kept by the LSH-Jaccard gate at 0.6)
    but containment 1.0 — containment mode drops it through the same
    survivor selection (longest wins, so the source stays)."""
    source = ("the quick brown fox jumps over the lazy dog and then runs "
              "far away into the deep green forest to find calm water and "
              "rest for a while before the long journey home through the "
              "rolling hills beyond the river where tall pines sway gently")
    excerpt = " ".join(source.split()[:18])   # verbatim prefix, ~40%
    other = ("steam engines changed the shape of industry and the people "
             "who built them worked across many countries with great "
             "effort and care during the early era of mechanical power")
    df = spark.createDataFrame(
        [(1, source), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    common = dict(
        min_quality=0.0, skip=frozenset({"classifier", "quality", "scrub"})
    )

    jac, _ = cur.curate(spark, df, neardup_mode="jaccard", **common)
    assert sorted(r.doc_id for r in jac.collect()) == [1, 2, 3]

    con, _ = cur.curate(
        spark, df, neardup_mode="containment",
        containment_threshold=0.9, **common,
    )
    assert sorted(r.doc_id for r in con.collect()) == [1, 3]

    with pytest.raises(ValueError, match="neardup_mode"):
        cur.curate(spark, df, neardup_mode="cosine")


def test_curate_cli_containment_mode(spark, tmp_path):
    source = ("the quick brown fox jumps over the lazy dog and then runs "
              "far away into the deep green forest to find calm water and "
              "rest for a while before the long journey home through the "
              "rolling hills beyond the river where tall pines sway gently")
    excerpt = " ".join(source.split()[:18])
    inp = str(tmp_path / "cm_in")
    spark.createDataFrame(
        [(1, source), (2, excerpt)], "doc_id long, text string"
    ).write.parquet(inp)
    out_dir = str(tmp_path / "cm_out")
    rc = cur.main([
        "--input", inp,
        "--output", out_dir,
        "--min-quality", "0.0",
        "--skip", "classifier,quality",
        "--near-dup", "containment",
        "--containment-threshold", "0.9",
    ])
    assert rc == 0
    got = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert [r.doc_id for r in got.collect()] == [1]


def test_curate_containment_mode_drops_corpus_excerpt(spark):
    """Incremental containment mode: a batch doc that is an EXCERPT of a
    CORPUS doc is dropped by the cross-set probe (the LSH-Jaccard probe
    keeps it — jaccard vs the source is ~0.4); genuinely new docs
    survive either mode."""
    source = ("the quick brown fox jumps over the lazy dog and then runs "
              "far away into the deep green forest to find calm water and "
              "rest for a while before the long journey home through the "
              "rolling hills beyond the river where tall pines sway gently")
    corpus = spark.createDataFrame(
        [(1, source)], "doc_id long, text string"
    )
    excerpt = " ".join(source.split()[:18])
    fresh = ("a brand new essay on the craft of baking bread with flour "
             "water salt and patience where the slow rise of the dough "
             "rewards the baker who waits for the oven to warm through")
    batch = spark.createDataFrame(
        [(101, excerpt), (102, fresh)], "doc_id long, text string"
    )
    common = dict(
        min_quality=0.0, skip=frozenset({"classifier", "quality", "scrub"}),
        corpus=corpus,
    )

    jac, _ = cur.curate(spark, batch, neardup_mode="jaccard", **common)
    assert sorted(r.doc_id for r in jac.collect()) == [101, 102]

    con, obs = cur.curate(
        spark, batch, neardup_mode="containment",
        containment_threshold=0.9, **common,
    )
    assert sorted(r.doc_id for r in con.collect()) == [102]
    stats = {k: o.get["rows"] for k, o in obs.items()}
    assert stats["neardup_vs_corpus"] == 1


def test_drift_report_degenerate_inputs(spark):
    """Edge cases the per-batch monitor must survive: an empty batch
    (no docs arrive in a trigger) and a constant-length reference
    (zero-width KS grid)."""
    from good_enough_timecamp_data_pipeline_spark.operators import drift

    ref = spark.createDataFrame(
        [(i, "alpha bravo charlie") for i in range(10)],
        "doc_id long, text string",
    )
    stats = drift.reference_stats(ref)  # width 0: all mass in bin 0
    empty = spark.createDataFrame([], "doc_id long, text string")
    rep = drift.drift_report(empty, ref_stats=stats)
    assert rep["n_batch_docs"] == 0 and rep["n_batch_tokens"] == 0
    assert not rep["ks_significant"] and not rep["kl_flagged"]

    same = drift.drift_report(ref, ref_stats=stats)
    assert same["token_count_ks"] == 0.0 and same["token_kl"] == 0.0


def test_drift_report_null_text_rows(spark):
    """Round-10 ADVICE item 2: drift runs on the RAW batch before the
    scrub stage, so null-text rows must not abort the micro-batch —
    they count as 0-token docs (a null flood IS length drift)."""
    from good_enough_timecamp_data_pipeline_spark.operators import drift

    ref = spark.createDataFrame(
        [(i, "alpha bravo charlie delta " * (1 + i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    stats = drift.reference_stats(ref)
    batch = spark.createDataFrame(
        [(100, None), (101, "alpha bravo charlie delta"), (102, None)],
        "doc_id long, text string",
    )
    rep = drift.drift_report(batch, ref_stats=stats)
    assert rep["n_batch_docs"] == 3  # nulls counted, not dropped
    # a reference WITH null rows must also reduce cleanly
    ref2 = ref.unionByName(
        spark.createDataFrame([(99, None)], "doc_id long, text string")
    )
    stats2 = drift.reference_stats(ref2)
    assert stats2["n_docs"] == 13


@pytest.mark.slow_e2e
def test_curate_stream_containment_reuses_write_once_index(spark, tmp_path, monkeypatch):
    """Round-10 ADVICE item 1, end to end: a containment-mode STREAM
    must land the corpus containment index as a write-once artifact on
    the first micro-batch and READ it on later ones (O(batch) per
    arrival) — asserted via artifact file mtimes across batches — while
    still dropping corpus excerpts."""
    import glob
    import shutil

    from good_enough_timecamp_data_pipeline_spark.operators import dedup

    # route the artifact cache into the test's tmp dir
    cache_root = str(tmp_path / "cont_cache")
    real = dedup.build_containment_index_cached

    calls = []

    def spying(spark_, corpus_df, cache_key, **kw):
        kw.setdefault("cache_root", cache_root)
        calls.append(cache_key)
        return real(spark_, corpus_df, cache_key, **kw)

    monkeypatch.setattr(dedup, "build_containment_index_cached", spying)

    source = ("the quick brown fox jumps over the lazy dog and then runs "
              "far away into the deep green forest to find calm water and "
              "rest for a while before the long journey home through the "
              "rolling hills beyond the river where tall pines sway gently")
    excerpt = " ".join(source.split()[:18])
    fresh_b = ("an essay on kites and the wind that carries them over the "
               "beach where children run with string in hand while gulls "
               "wheel above the waves in the bright light of afternoon")
    fresh_c = ("notes about the night sky and the slow wheel of stars "
               "that turns above the sleeping town while the lighthouse "
               "blinks its patient code out across the dark water")
    corpus_path = str(tmp_path / "corpus")
    spark.createDataFrame([(1, source)], "doc_id long, text string").write.parquet(
        corpus_path
    )
    feed = tmp_path / "feed"
    feed.mkdir()

    def land(batch_rows, name):
        staging = str(tmp_path / f"staging_{name}")
        spark.createDataFrame(
            batch_rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        shutil.move(part, str(feed / f"{name}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)

    land([(101, excerpt), (102, fresh_b)], "b0")  # 101 = corpus excerpt
    land([(201, fresh_c)], "b1")

    out_dir = str(tmp_path / "stream_out")
    out_docs = cur.curate_stream(
        spark, str(feed), corpus_path, out_dir,
        min_quality=0.0,
        skip=frozenset({"classifier", "quality", "scrub"}),
        neardup_mode="containment",
        containment_threshold=0.9,
    )
    got = sorted(r.doc_id for r in spark.read.parquet(out_docs).collect())
    assert got == [102, 201]  # excerpt dropped; fresh docs land

    # the cached builder ran once per micro-batch with the SAME derived
    # key, and the artifact files were written exactly once
    assert len(calls) >= 2 and len(set(calls)) == 1
    files = sorted(glob.glob(f"{cache_root}/*/*/part-*"))
    assert files, "artifact must exist"
