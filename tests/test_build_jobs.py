"""Plan construction fires no Spark job once a session knows its
tables, except the documented persist fills.

The queries are perfbench's ``analytics`` workload. Each is built
twice over sf0.001; the second build must fire no job at all (the
first pays each table's schema inference, see
``sources.readers.load_table``) except the fills that materialize an
intermediate relation while building:

- ``dedup_keep_best``: label propagation in ``near_dup_clusters`` —
  the edges persist fill and, per round, the shuffle map stages below
  each ``localCheckpoint`` plus the convergence sum;
- ``dedup_minhash_lsh``: ``minhash_lsh_pairs``' per-document count
  over the persisted shingle projection;
- ``funnel_latency``: the persisted funnel chain and its quantile
  bounds.

A count that rises fails; a count that falls is re-pinned here.
"""

from __future__ import annotations

from mspr2_back_spark.plans import QUERIES
from mspr2_back_spark.session import group_jobs, job_group

ANALYTICS = (
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "bigram_surprisal",
    "tfidf_top_terms",
    "rfm_segments",
    "funnel_latency",
    "multimodal_jpeg_meta",
    "ann_batch_topk",
    "cms_heavy_hitters",
)

# Jobs per fill build at the test session's 8 shuffle partitions (the
# count depends on the partition count, not the cores: one shuffle
# partition runs one job fewer per fill, 13 / 3 / 3).
BUILD_FILLS = {"dedup_keep_best": 18, "dedup_minhash_lsh": 4, "funnel_latency": 4}


def test_second_build_fires_only_the_documented_fills(spark, sf_dir):
    jobs = {}
    for attempt in ("first", "second"):
        for name in ANALYTICS:
            group = f"build-jobs-{attempt}-{name}"
            with job_group(spark, group):
                QUERIES[name](spark, sf_dir)
            spark.catalog.clearCache()
            jobs[name] = group_jobs(spark, group)
    assert jobs == {name: BUILD_FILLS.get(name, 0) for name in ANALYTICS}
