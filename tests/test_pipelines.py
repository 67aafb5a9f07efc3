"""Golden tests for the reference pipelines Q1-Q7 over the hand-built
tweet fixture (conftest.TWEETS). Expected values derived by hand —
see SURVEY.md §2.11 for the reference composition each mirrors."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark import StorageLevel
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import jaccard
from tvbigdataproject_spark.plans import TweetGraphPipeline
from tvbigdataproject_spark.schemas import TWEET_SCHEMA


@pytest.fixture(scope="module")
def pipe(spark, tweets_df):
    p = TweetGraphPipeline(spark, tweets=tweets_df)
    yield p
    p.close()


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_q1_retweet_edges(pipe):
    # (original author → retweeter, count); u2 retweeted u1 twice,
    # u4→u3 once, u5 self-retweet, u6 quoted u1 once.
    assert rows(pipe.retweet_edges(), "src", "dst", "w") == [
        ("1", "2", 2.0),
        ("1", "6", 1.0),
        ("3", "4", 1.0),
        ("5", "5", 1.0),
    ]


def test_q2_user_hashtags_normalization(pipe):
    # Café/CAFE/cafe fold to 'cafe'; Ümlaut → 'umlaut'; retweeted-post
    # tags credit the ORIGINAL author (reference :94): u1 gains nothing
    # new from u2's retweets, u3 re-credits {alpha,beta} to itself via
    # u4's retweet; retweeters u2/u5 (no own tags) are absent entirely;
    # arrays sorted+deduped.
    got = {r["id"]: r["hts"] for r in pipe.user_hashtags().collect()}
    assert got == {
        "1": ["cafe", "spark"],
        "3": ["alpha", "beta", "cafe", "delta", "gamma", "spark"],
        "4": ["spark"],
        "6": ["omega", "umlaut"],
        "7": ["kappa", "lambda"],
        "8": ["kappa", "lambda"],
    }


def test_q2_flag_only_tags_from_not_retweeted_posts(spark, tweets_df):
    # With the flag (reference P4, RetweetTagsJaccardGraph.py:100-102),
    # u6's own tag on its quote-tweet ('omega') is excluded.
    pipe = TweetGraphPipeline(
        spark, tweets=tweets_df, only_tags_from_not_retweeted_posts=True
    )
    got = {r["id"]: r["hts"] for r in pipe.user_hashtags().collect()}
    assert got["6"] == ["umlaut"]
    assert got["1"] == ["cafe", "spark"]  # unaffected


def test_q2_hashtag_edges(pipe):
    edges = rows(pipe.hashtag_edges(), "src", "dst", "w")
    # exploded from the deduped per-user set → weight 1 each, one row per
    # (user, tag)
    assert ("1", "cafe", 1.0) in edges
    assert ("6", "umlaut", 1.0) in edges
    assert len(edges) == 2 + 6 + 1 + 2 + 2 + 2
    assert all(w == 1.0 for _, _, w in edges)


def test_q3_jaccard_edges(pipe):
    # candidates (≥2 shared tags): (1,3) at j=2/6=1/3 (dropped by the
    # strict > 0.5 threshold, reference RetweetTagsJaccardGraph.py:183)
    # and (7,8) at j=1.0 (kept; src = greater id per :164-185).
    assert rows(pipe.jaccard_edges(), "src", "dst", "w", "type") == [
        ("8", "7", 1.0, "JC"),
    ]


def test_q3_jaccard_edge_orientation(spark, tweets_df):
    # the reference keeps motif rows with c.id > d.id and exports
    # src=c.id, dst=d.id (:164-185): greater id is the source. At a 0.3
    # threshold the (1,3) candidate survives with j=1/3 — src must be 3.
    pipe = TweetGraphPipeline(spark, tweets=tweets_df, jaccard_threshold=0.3)
    got = rows(pipe.jaccard_edges(), "src", "dst", "type")
    assert got == [("3", "1", "JC"), ("8", "7", "JC")]
    w31 = {(r["src"], r["dst"]): r["w"] for r in pipe.jaccard_edges().collect()}
    assert abs(w31[("3", "1")] - 1 / 3) < 1e-12


def test_q4_full_graph(pipe):
    g = pipe.full_graph()
    edges = rows(g.edges, "src", "dst", "type")
    assert ("1", "2", "RT") in edges
    assert ("3", "delta", "HT") in edges
    # vertices = users ∪ tags incident to any edge
    ids = {r["id"] for r in g.vertices.collect()}
    assert {"1", "2", "3", "4", "5", "6", "cafe", "spark", "umlaut"} <= ids
    assert ("8", "7", "JC") in edges
    # edge count: 4 RT + 15 HT + 1 JC
    assert g.edges.count() == 20
    # the RT/HT/JC parts are each unique on (src, dst) and differ in
    # type, so the union needs no distinct
    assert g.edges.count() == g.edges.distinct().count()


def test_q5_bi_report(pipe):
    rep = {r["user"]: r for r in pipe.bi_report().collect()}
    u1 = rep["1"]
    assert u1["hashtags"] == "[cafe,spark]"
    assert u1["retweeted_users"] == "[2,6]"  # users who retweeted u1
    assert u1["retweeting_users"] == "[]"  # u1 retweeted nobody
    assert u1["jaccard_users"] == "[]"  # u1's only candidate fails the gate
    u4 = rep["4"]
    assert u4["retweeting_users"] == "[3]"  # u4 retweeted u3
    assert u4["jaccard_users"] == "[]"
    # u2/u5 have no own tags → not in the mapping-driven report
    # (reference starts from user_hts_mapping,
    # RetweetTagsJaccardGraph.py:207; rt tags credit the original author)
    assert "2" not in rep
    assert "5" not in rep
    # the surviving JC edge (8→7) lists each user as the other's partner
    assert rep["7"]["jaccard_users"] == "[8]"
    assert rep["8"]["jaccard_users"] == "[7]"


def test_q6_word_cloud_corpus(pipe):
    texts = sorted(r["text"] for r in pipe.word_cloud_corpus().collect())
    # retweets prefer the retweeted post's text; cleaning lowercases and
    # strips punctuation; null text cleans to '' and is KEPT (reference
    # cleaner(None) -> '', bigdata/__init__.py:40-41) — one row per tweet
    assert "spark is great" in texts
    assert "alpha beta" in texts  # 'alpha beta!' cleaned
    assert all(t == t.lower() for t in texts)
    # T10 rt.text None → falls back to own 'quoting' (reference P5)
    assert "quoting" in texts
    assert len(texts) == 12
    assert texts.count("") == 1  # T9: null text, no retweet


def test_q7_neighborhood(pipe):
    g = pipe.neighborhood("1", hops=2)
    ids = {r["id"] for r in g.vertices.collect()}
    # hop-1 (dst-only, non-HT): {2, 6}; subgraph = edges incident to
    # {1,2,6} incl. their HT edges (u2 has none — rt tags credit u1)
    assert ids == {"1", "2", "6", "cafe", "spark", "omega", "umlaut"}
    assert g.edges.count() == 6


def test_shared_tables_built_once_and_released_on_close(spark, tweets_json, persisted_rdds):
    # a JSON-backed pipeline: its plans are its own, not the fixture's
    before = persisted_rdds()
    with TweetGraphPipeline(spark, path=tweets_json) as p:
        tables = [p.user_hashtags(), p.retweet_edges(), p.jaccard_edges()]
        again = [p.user_hashtags(), p.retweet_edges(), p.jaccard_edges()]
        assert all(a is b for a, b in zip(again, tables))
        g = p.full_graph()
        assert p.full_graph() is g
        sub = p.neighborhood("1")
        assert p.neighborhood("1", hops=2) is sub
        assert p.neighborhood("1", hops=1) is not sub
        tables += [g.edges, sub.edges]
        assert all(t.storageLevel.useMemory for t in tables)
        # persist() is lazy: no table is materialised until an action
        assert persisted_rdds() <= before
        assert sub.edges.count() == 6
        p.bi_report().collect()
        assert persisted_rdds() - before
    assert all(t.storageLevel == StorageLevel.NONE for t in tables)
    assert persisted_rdds() <= before
    assert p._tables == {}


def _tag_tweet(uid, tags):
    return {
        "user": {"id": uid},
        "text": None,
        "hashtagEntities": [{"text": t} for t in tags],
        "hashtagEntitiesArray": list(tags),
        "retweeted_status": None,
    }


tag_sets = st.dictionaries(
    st.integers(1, 9),
    st.sets(st.sampled_from("abcdefg"), min_size=1, max_size=7),
    min_size=2,
    max_size=8,
)


@given(users=tag_sets)
# |A∩B| = 2, |A∪B| = 4: exactly 0.5, which the strict gate drops
@example(users={1: {"a", "b"}, 2: {"a", "b", "c", "d"}, 3: {"a", "b", "c"}})
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_q3_count_weight_is_bitwise_jaccard(spark, users):
    tweets = spark.createDataFrame(
        [_tag_tweet(u, sorted(ts)) for u, ts in users.items()], TWEET_SCHEMA
    )
    # python ground truth for the candidate gate (≥ 2 shared tags)
    cands = {
        (str(b), str(a)): len(users[a] & users[b]) / len(users[a] | users[b])
        for a in users
        for b in users
        if str(a) < str(b) and len(users[a] & users[b]) >= 2
    }
    with TweetGraphPipeline(spark, tweets=tweets, jaccard_threshold=0.0) as p:
        hts = p.user_hashtags()
        scored = (
            p.jaccard_edges()
            .join(hts.select(F.col("id").alias("src"), F.col("hts").alias("hts_s")), "src")
            .join(hts.select(F.col("id").alias("dst"), F.col("hts").alias("hts_d")), "dst")
            .select("src", "dst", "w", jaccard(F.col("hts_s"), F.col("hts_d")).alias("j"))
            .collect()
        )
    assert {(r["src"], r["dst"]) for r in scored} == set(cands)
    # the count-based weight and the array jaccard divide the same two
    # integers: equal bit for bit, not approximately
    assert all(r["w"] == r["j"] == cands[(r["src"], r["dst"])] for r in scored)
    with TweetGraphPipeline(spark, tweets=tweets) as p:
        kept = {(r["src"], r["dst"]) for r in p.jaccard_edges().collect()}
    assert kept == {pair for pair, j in cands.items() if j > 0.5}
