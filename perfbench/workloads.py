"""The benchmark's workloads: the op mix (SparkEntry query names; every
timed pass runs each op once, in a seed-shuffled order) and the shape of
the generated tables each one reads. Why each was chosen is in README.md.
"""

WORKLOADS = {
    "tsdb_reads": {
        "ops": ["tsbs_single_groupby_5_8_1", "tsbs_double_groupby_1",
                "tsbs_high_cpu_all", "ts_mget", "ts_range_agg_multi",
                "ts_sql_tvf_range"],
        "tables": {"events": dict(rows=100_000, users=1500, files="nproc")},
    },
    "tsdb_ingest": {
        "ops": ["tsbs_ingestion", "ts_ingest_stream",
                "ts_compaction_stream_update"],
        # one file: the streaming sources glob `events.parquet` in the dir
        "tables": {"events": dict(rows=10_000, users=150, files=1)},
    },
    "corpus_pipeline": {
        "ops": ["dedup_exact", "dedup_minhash_lsh_full",
                "pipeline_classifier_weights", "text_tfidf", "ann_ivfpq_topk"],
        "tables": {"documents": dict(rows=500), "embeddings": dict(rows=500)},
    },
}


def input_table(op):
    """The generated table whose rows an op consumes (for rows_per_s)."""
    if op.startswith("ts"):
        return "events"
    if op.startswith("ann_"):
        return "embeddings"
    return "documents"
