"""The reference's end-to-end pipelines (SURVEY.md §2.11 Q1-Q7),
recomposed from the operator library.

Reference behaviors reproduced (with file:line citations throughout);
deliberate divergences, per SURVEY.md §7.4:
- weights and similarity scores are numeric, not strings (the reference's
  five untyped UDFs defaulted to StringType, §1.4.1-3);
- the BI report's disjunctive JC join is rewritten as a two-orientation
  equi-join (same rows, hash join instead of BroadcastNestedLoopJoin);
- no repartition(1) sinks, no driver-side collect loops, no GraphFrames.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions import array_to_string, normalize_tags
from tvbigdataproject_spark.functions.text import simple_clean
from tvbigdataproject_spark.operators.graph import (
    Graph,
    k_hop_neighborhood,
    pair_candidates,
    vertices_from_edges,
)
from tvbigdataproject_spark.sources.io import read_tweets


def _built_once(method):
    """Memoise a table builder per pipeline (keyed by its bound
    arguments) and persist the table it returns — a Graph's edges, whose
    vertices are derived from them. persist() is lazy: the first action
    that reads the table materialises it, and every later consumer reads
    the cached rows instead of re-running the JSON scan and the joins."""
    sig = inspect.signature(method)

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        bound = sig.bind(self, *args, **kwargs)
        bound.apply_defaults()
        key = (method.__name__, *bound.args[1:])
        if key not in self._tables:
            out = method(self, *args, **kwargs)
            (out.edges if isinstance(out, Graph) else out).persist()
            self._tables[key] = out
        return self._tables[key]

    return wrapper


class TweetGraphPipeline:
    """Retweet + hashtag + Jaccard unified graph over a tweet table.

    Mirrors RetweetTagsJaccardGraph (reference :10-276). The shared
    tables — per-user hashtags, RT edges, JC edges, the full graph's
    edges and each neighbourhood's edges — are built once per instance
    and persisted lazily, so a sink that writes edges and vertices, the
    hop joins of a neighbourhood and the BI report's JC reads all share
    one materialisation. The tweet rows themselves are not cached.
    ``close()`` (or leaving a ``with`` block) releases the tables.
    """

    def __init__(
        self,
        spark: SparkSession,
        tweets: DataFrame | None = None,
        path: str | None = None,
        jaccard_threshold: float = 0.5,
        only_tags_from_not_retweeted_posts: bool = False,
    ) -> None:
        if tweets is None:
            if path is None:
                raise ValueError("need tweets DataFrame or a JSON path")
            tweets = read_tweets(spark, path)
        self.spark = spark
        self.tweets = tweets
        self.jaccard_threshold = jaccard_threshold
        self.only_tags_from_not_retweeted_posts = only_tags_from_not_retweeted_posts
        # builder key -> DataFrame or Graph, in build order (see _built_once)
        self._tables: dict[tuple, DataFrame | Graph] = {}

    def close(self) -> None:
        """Unpersist every table this pipeline built. Dependents go
        first: releasing a table that another cached plan still reads
        makes Spark rebuild that plan's cache entry. Calling a builder
        afterwards builds its table afresh."""
        for out in reversed(list(self._tables.values())):
            (out.edges if isinstance(out, Graph) else out).unpersist()
        self._tables.clear()

    def __enter__(self) -> TweetGraphPipeline:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # --- Q1: retweet graph (reference :48-72) -----------------------------

    @_built_once
    def retweet_edges(self) -> DataFrame:
        """user a → user b with weight = number of times b retweeted a.

        Reference :61-66: filter retweeted_status IS NOT NULL, project
        (retweeted_status.user.id → src, user.id → dst), groupBy-count.
        """
        return (
            self.tweets.where(F.col("retweeted_status").isNotNull())
            .select(
                F.col("retweeted_status.user.id").cast("string").alias("src"),
                F.col("user.id").cast("string").alias("dst"),
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
            .withColumn("type", F.lit("RT"))
        )

    # --- Q2: hashtag graph (reference :74-134) ----------------------------

    @_built_once
    def user_hashtags(self) -> DataFrame:
        """(id, hts): per-user normalized, deduped, sorted hashtag set.

        Reference :89-117: tags from original posts (+ optionally only
        non-retweeted posts, flag at :100-102) unioned with tags from the
        retweeted posts they forwarded; collect_set + flatten (a Python
        UDF at bigdata/__init__.py:24 — native F.flatten here) +
        normalization (bigdata/__init__.py:49-70).
        """
        own = self.tweets.where(F.col("hashtagEntities").isNotNull())
        if self.only_tags_from_not_retweeted_posts:
            # reference P4: dynamic predicate, :100-102 applied at :105
            own = own.where(F.col("retweeted_status.user.id").isNull())
        own = own.where(F.col("user.id").isNotNull()).select(
            F.col("user.id").cast("string").alias("id"),
            F.col("hashtagEntitiesArray").alias("htea"),
        )
        # tags of retweeted posts belong to the ORIGINAL author
        # (reference :94: retweeted_status.user.id aliased as id), not to
        # the retweeter — the retweeter only contributes the RT edge.
        rt = (
            self.tweets.where(F.col("retweeted_status.user.id").isNotNull())
            .where(F.col("retweeted_status.hashtagEntities").isNotNull())
            .select(
                F.col("retweeted_status.user.id").cast("string").alias("id"),
                F.col("retweeted_status.hashtagEntitiesArray").alias("htea"),
            )
        )
        gathered = (
            own.unionByName(rt)
            .groupBy("id")
            .agg(F.flatten(F.collect_set("htea")).alias("raw_hts"))
        )
        return gathered.select("id", normalize_tags(F.col("raw_hts")).alias("hts")).where(
            F.size("hts") > 0
        )

    def hashtag_edges(self) -> DataFrame:
        """user → hashtag with weight = usage count (reference :119-128:
        explode + groupBy-count; dst is the hashtag)."""
        return (
            self.user_hashtags()
            .select("id", F.explode("hts").alias("tag"))
            .groupBy(F.col("id").alias("src"), F.col("tag").alias("dst"))
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
            .withColumn("type", F.lit("HT"))
        )

    # --- Q3: Jaccard graph (reference :136-192) ---------------------------

    @_built_once
    def jaccard_edges(self) -> DataFrame:
        """user ↔ user edges weighted by hashtag-set Jaccard similarity.

        Reference mechanism: GraphFrames motif for "pairs sharing ≥2
        hashtags" (:158-165) → two joins to attach hashtag lists
        (:168-172) → string-typed jaccard UDF + threshold filter
        (:177-183). Here: pair_candidates (self-join + count gate) →
        score from the counts → threshold. The candidate gate is the
        reference's own algorithmic idea — kept, with the motif
        machinery deleted.

        Each user's set size rides along as part of the entity, so the
        self-join's group count |A∩B| and the two sizes give
        |A∪B| = |A| + |B| − |A∩B| with no join to re-attach the sets.
        ``hts`` is already distinct, so the weight divides the same two
        integers as functions.jaccard and is bit-identical to it.
        """
        tag_edges = self.user_hashtags().select(
            F.struct("id", F.size("hts").alias("n")).alias("ent"),
            F.explode("hts").alias("tag"),
        )
        cands = pair_candidates(tag_edges, min_shared=2, src_col="ent", item_col="tag")
        # pair_candidates emits id_a < id_b (the struct orders by its
        # unique id first); the reference's motif filter keeps c.id > d.id
        # and exports src=c.id, dst=d.id (:164-185), so the greater id is
        # the edge source.
        union = F.col("id_a.n") + F.col("id_b.n") - F.col("shared")
        scored = cands.select(
            F.col("id_b.id").alias("src"),
            F.col("id_a.id").alias("dst"),
            (F.col("shared").cast("double") / union.cast("double")).alias("w"),
        )
        return scored.where(F.col("w") > self.jaccard_threshold).withColumn(
            "type", F.lit("JC")
        )

    # --- Q4: full graph (reference :37-46) --------------------------------

    @_built_once
    def full_graph(self) -> Graph:
        """Union of RT + HT + JC edges and their induced vertices
        (reference :39-46, which applies .distinct() to both unions).
        The edge union needs none: each part is unique on (src, dst) and
        the parts differ in ``type``."""
        edges = (
            self.retweet_edges()
            .unionByName(self.hashtag_edges())
            .unionByName(self.jaccard_edges())
        )
        return Graph(vertices_from_edges(edges), edges)

    # --- Q5: BI report (reference :194-243) -------------------------------

    def bi_report(self) -> DataFrame:
        """Per-user denormalized report: hashtags, who they retweeted,
        who retweeted them, and their JC partners — as '[a,b,c]' strings.

        Reference :207-243. The final join there matches JC edges with a
        disjunctive predicate ``(user==dst) | (user==src)`` which forces
        a BroadcastNestedLoopJoin (:225-227); rewritten here by exploding
        each JC edge into both orientations and equi-joining — identical
        matches, hash join (SURVEY.md J5).
        """
        mapping = self.user_hashtags()
        rt = self.retweet_edges()

        # users I retweeted: I am dst in (src → dst = retweeter)... the
        # reference joins mapping.id == rt.src first (:207-208): users
        # whose posts I forwarded ⇒ collect src's partners as "retweeted
        # users" per :212-213 semantics (collect_set of dst).
        retweeted_of_me = (
            mapping.join(rt, mapping.id == rt.src, "left")
            .groupBy("id", "hts")
            .agg(F.collect_set("dst").alias("retweeted_me"))
        )
        i_retweeted = (
            retweeted_of_me.join(rt, retweeted_of_me.id == rt.dst, "left")
            .groupBy("id", "hts", "retweeted_me")
            .agg(F.collect_set("src").alias("i_retweeted"))
        )

        jc = self.jaccard_edges()
        jc_both = jc.select(F.col("src").alias("id"), F.col("dst").alias("partner")).unionByName(
            jc.select(F.col("dst").alias("id"), F.col("src").alias("partner"))
        )
        jc_partners = jc_both.groupBy("id").agg(F.collect_set("partner").alias("jc_partners"))

        report = (
            i_retweeted.join(jc_partners, "id", "left")
            .withColumn("jc_partners", F.coalesce(F.col("jc_partners"), F.array()))
            .select(
                F.col("id").alias("user"),
                # collect_set order is nondeterministic — the reference
                # stringifies it as-is (bigdata/__init__.py:23, used at
                # :237-240) so its CSV cell contents vary run to run;
                # sorting first makes the report reproducible.
                array_to_string(F.array_sort(F.col("hts"))).alias("hashtags"),
                array_to_string(F.array_sort(F.col("retweeted_me"))).alias("retweeted_users"),
                array_to_string(F.array_sort(F.col("i_retweeted"))).alias("retweeting_users"),
                array_to_string(F.array_sort(F.col("jc_partners"))).alias("jaccard_users"),
            )
        )
        return report

    # --- Q6: word-cloud corpus (reference bigdata/__init__.py:73-94) ------

    def word_cloud_corpus(self) -> DataFrame:
        """Cleaned tweet text, preferring the retweeted post's text when
        present (reference P5: when/otherwise at bigdata/__init__.py:87-90;
        cleaning via spaCy UDF D6 — native fallback here; the optional
        spaCy pandas_udf lives in operators/textstats.py).

        The reference keeps null/empty texts as empty cleaned strings
        (cleaner(None) -> '', bigdata/__init__.py:40-41), so there is one
        output row per tweet."""
        source_text = F.when(
            F.col("retweeted_status.text").isNull(), F.col("text")
        ).otherwise(F.col("retweeted_status.text"))
        return self.tweets.select(simple_clean(source_text).alias("text"))

    # --- Q7: neighborhood subgraph (reference :252-276) -------------------

    @_built_once
    def neighborhood(self, node_id: str, hops: int = 2) -> Graph:
        """k-hop neighborhood around a node — distributed frontier
        expansion replacing the reference's collect() loop and keeping
        its quirks (dst-only expansion, no HT hops; see
        k_hop_neighborhood)."""
        return k_hop_neighborhood(self.full_graph().edges, seed_id=node_id, hops=hops)
