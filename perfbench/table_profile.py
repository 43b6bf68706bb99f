"""Profile of the analytics tables: the figures perfbench/gen_tables.py
takes its parameters from.

    python3 perfbench/table_profile.py <sf_dir>

Prints one JSON object, {figure: value}. Run it on the sf0.1 tables
`graft.Bench` reads and on the generated tables to compare the two;
design.json ("analytics_tables") records both.
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORDS = "(SELECT unnest(string_split(text, ' ')) w FROM documents)"
FIGURES = {
    "doc_vocabulary": f"SELECT count(DISTINCT w) FROM {WORDS}",
    "doc_words_min_mean_max": "SELECT min(n), round(avg(n), 1), max(n) "
                              "FROM (SELECT len(string_split(text, ' ')) n FROM documents)",
    "doc_word_freq_min_max": f"SELECT min(c), max(c) FROM (SELECT count(*) c FROM {WORDS} GROUP BY w)",
    "doc_dup_suffix": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "doc_exact_dup_rows": "SELECT coalesce(sum(c - 1), 0) FROM "
                          "(SELECT count(*) c FROM documents GROUP BY text HAVING c > 1)",
    "doc_lang_de_en_es_fr_zh": "SELECT list(c ORDER BY lang) FROM "
                               "(SELECT lang, count(*) c FROM documents GROUP BY lang)",
    "events_per_user_min_median_max": "SELECT min(c), median(c), max(c) FROM "
                                      "(SELECT count(*) c FROM events GROUP BY user_id)",
    "event_types": "SELECT count(DISTINCT event_type) FROM events",
    "event_value_mean_median_p99": "SELECT round(avg(value), 1), round(median(value), 1), "
                                   "round(quantile_cont(value, 0.99), 0) FROM events",
    "event_gap_mean_median_s": "SELECT round(avg(g), 1), round(median(g), 1) FROM "
                               "(SELECT epoch(ts) - epoch(lag(ts) OVER (ORDER BY ts)) g FROM events)",
    "event_props_distinct": "SELECT count(DISTINCT props) FROM events",
    "ts_type": "SELECT any_value(typeof(ts)) FROM events",
    "orders_per_customer_min_median_max": "SELECT min(c), median(c), max(c) FROM "
                                          "(SELECT count(*) c FROM orders GROUP BY o_custkey)",
    "lines_per_order_min_median_max": "SELECT min(c), median(c), max(c) FROM "
                                      "(SELECT count(*) c FROM lineitem GROUP BY l_orderkey)",
    "lines_per_part_min_max": "SELECT min(c), max(c) FROM "
                              "(SELECT count(*) c FROM lineitem GROUP BY l_partkey)",
    "extendedprice_min_median_max": "SELECT round(min(l_extendedprice), -2), "
                                    "round(median(l_extendedprice), -2), "
                                    "round(max(l_extendedprice), -2) FROM lineitem",
    "extendedprice_quantity_corr": "SELECT round(corr(l_extendedprice, l_quantity), 2) FROM lineitem",
    "shipdate_after_orderdate_share": "SELECT round(avg(CASE WHEN l_shipdate >= o_orderdate "
                                      "THEN 1 ELSE 0 END), 2) FROM lineitem "
                                      "JOIN orders ON l_orderkey = o_orderkey",
    "part_names_distinct": "SELECT count(DISTINCT p_name) FROM part",
    "customers_per_nation_min_max": "SELECT min(c), max(c) FROM "
                                    "(SELECT count(*) c FROM customer GROUP BY c_nationkey)",
    "embedding_dim": "SELECT max(len(embedding)) FROM embeddings",
    "embedding_same_label_cosine": "SELECT round(avg(list_cosine_similarity(a.embedding, "
                                   "b.embedding)), 2) FROM (FROM embeddings LIMIT 300) a "
                                   "JOIN (FROM embeddings LIMIT 300) b "
                                   "ON a.label = b.label AND a.vec_id < b.vec_id",
}


def profile(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {"rows": {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}}
    for name, sql in FIGURES.items():
        row = con.execute(sql).fetchone()
        out[name] = row[0] if len(row) == 1 else list(row)
    return out


if __name__ == "__main__":
    print(json.dumps(profile(sys.argv[1]), default=str))
