"""Training-data prep surface: split assignment, random projection,
chunk-duplication audit, vocabulary richness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "train_val_test_split",
        "embedding_random_projection",
        "chunk_dup_stats",
        "vocab_richness_by_source",
        "unigram_surprisal_by_doc",
        "udtf_chunk_split",
    ],
)
def test_training_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_split_is_deterministic_and_total(spark):
    """The split must be a partition of the corpus (counts sum to the
    table size) and reproducible run-to-run."""
    import __spark_entry__ as entrymod

    from streaming_data_pipeline_spark.sources.batch import load_table

    q = entrymod.queries()["train_val_test_split"]
    a = {r["split"]: r["n_docs"] for r in q(spark, SF_DIR).collect()}
    b = {r["split"]: r["n_docs"] for r in q(spark, SF_DIR).collect()}
    assert a == b
    total = load_table(spark, SF_DIR, "documents").count()
    assert sum(a.values()) == total
    assert set(a) == {"train", "val", "test"}
    # 80/10/10 target within binomial slack on a 500-doc fixture.
    assert a["train"] > a["val"] and a["train"] > a["test"]


def test_random_projection_shape_and_exactness(spark):
    """Every vector projects to exactly 8 dims, and the DECIMAL
    accumulation makes the result invariant to repartitioning."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["embedding_random_projection"]
    out = q(spark, SF_DIR)
    per_vec = out.groupBy("vec_id").count()
    assert per_vec.filter(F.col("count") != 8).count() == 0
    # Re-run and diff: exact equality, not approximate.
    again = q(spark, SF_DIR)
    assert out.exceptAll(again).count() == 0


def test_chunk_dup_stats_bounds(spark):
    """dup_chunks <= n_chunks and the fixture's near-dup docs surface."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["chunk_dup_stats"](spark, SF_DIR)
    assert out.filter(F.col("dup_chunks") > F.col("n_chunks")).count() == 0
    assert out.filter(F.col("dup_chunks") > 0).count() > 0

