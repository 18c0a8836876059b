"""dedup_semantic's centroid tie-break assumes one rep row per gid.

The centroid assignment is ``groupBy("gid").agg(min(struct(-cos,
centroid_id, embedding)))`` over the reps, the rows with ``vec_id =
gid``. The embedding rides in the struct as payload only: with one rep
per gid, every row of a group carries the same embedding, so the
comparison never decides on it. A second rep with the same gid (two
distinct embeddings under one vec_id, or a gid that is no longer the
lowest member id of one payload group) would merge two payload groups
into one cell and bucket, and the comparison would pick an embedding.
These tests pin that assumption on the sf0.01 oracle data and check that
the probe sees a violation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from navigator_data_ingest_spark.operators import similarity
from tests.conftest import SF_CORRECT


def _tie_break_gid_dups(spark, monkeypatch) -> int:
    """Build dedup_semantic at sf0.01 and count the gids that reach its
    min(struct(...)) tie-break on more than one rep row."""
    scatter, reps = similarity.scatter, []

    def spy(spark_, df):
        if df.columns == ["gid", "embedding"]:
            reps.append(df)
        return scatter(spark_, df)

    monkeypatch.setattr(similarity, "scatter", spy)
    similarity.dedup_semantic(spark, SF_CORRECT)
    (df,) = reps
    return df.groupBy("gid").count().where("count > 1").count()


def test_dedup_semantic_tie_break_sees_unique_gids(spark, monkeypatch):
    assert _tie_break_gid_dups(spark, monkeypatch) == 0


def test_duplicate_gid_reaching_the_tie_break_is_seen(spark, monkeypatch):
    """A second embedding under the lowest vec_id is a second rep of
    that gid, and the probe above counts it."""
    load = similarity.load_table

    def colliding_vec_id(spark_, sf_dir, name):
        df = load(spark_, sf_dir, name)
        if name != "embeddings":
            return df
        first = df.orderBy("vec_id").limit(1)
        return df.unionByName(first.withColumn("embedding", F.reverse("embedding")))

    monkeypatch.setattr(similarity, "load_table", colliding_vec_id)
    assert _tie_break_gid_dups(spark, monkeypatch) == 1
