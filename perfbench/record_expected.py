#!/usr/bin/env python3
"""Records the lane_sweep lane set and each lane's expected row count.

    python3 perfbench/record_expected.py

The count of a lane is the row count of its DuckDB oracle
(`SparkEntry.oracleSql`) over perfbench/data/sf0.01, the same oracle the
repository's correctness gate (tools/check.py) compares whole results
against. Evaluating the oracles is too slow to repeat on every run, so the
counts are recorded once in perfbench/expected_counts.json; run this again
whenever LANES or a lane's oracle changes.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# The cheapest lane of every module at sf0.01, except: StreamingOps is
# represented by its versioned-sink read side (time travel) instead of the
# offsets lane, and DedupIndex is left out: its only lane takes ~6 s, more
# than a whole pass of the others.
LANES = [
    "window_range_frame", "attribution_touch", "join_bloom_prefilter", "bpe_train_big",
    "window_row_number", "corpus_shuffle", "dedup_exact", "fuzzy_name_match", "geo_grid_join",
    "graph_pagerank", "sim_hybrid_rrf", "incr_agg_merge", "interval_weighted_avg",
    "jdbc_roundtrip", "join_prune_outer", "bucketed_join", "union_inject", "sink_append",
    "mm_binary_meta", "mv_rewrite_scan", "pipeline_hotpath", "profile_columns", "dq_check",
    "ts_from_epoch", "scd2_build", "vec_quantize", "join_salted", "sink_time_travel",
    "asof_tolerance", "text_tokens", "json_roundtrip", "sim_index_cell_stats", "xml_roundtrip",
]


def main():
    import duckdb
    classpath = run.build()
    out_dir = os.path.join(run.WORK, "record")
    os.makedirs(out_dir, exist_ok=True)
    sql_file = os.path.join(out_dir, "oracle_sql.json")
    run.jvm(classpath, out_dir, ["--oracle-sql", sql_file, "--lanes", ",".join(LANES)], 600)
    with open(sql_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA_LANES, t + '.parquet')}')")
    counts = {}
    for lane in sorted(LANES):
        con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {oracles[lane]}")
        counts[lane] = con.execute("SELECT count(*) FROM __oracle").fetchone()[0]
        print(f"{lane}: {counts[lane]}")
    with open(run.EXPECTED, "w") as f:
        json.dump({"data": "perfbench/data/sf0.01", "duckdb": duckdb.__version__,
                   "recipe": "python3 perfbench/record_expected.py", "counts": counts},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
