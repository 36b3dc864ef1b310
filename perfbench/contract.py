"""contract_queries: the driver-contract queries over seeded tables,
each result checked against its DuckDB twin.

The tables follow the schemas of the project's test data (a TPC-H-like
star, an event stream, documents and embeddings) at a small scale, and
are generated from the run's seed, so any seed can be checked. A run
writes them once, runs every query once untimed and compares it with
DuckDB (the warm-up and the check), then times passes over the timed
set until ``--seconds`` have passed. The traced run checks all 50 and
reports their first executions per operator family.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from crawler_spark.queries import ORACLES, QUERIES

from host import TreeSampler, less_steal, vm_steal_s

SETUP_REPS = 3

# one query per operator family, except for the multimodal, graphrank
# and components families, left to the traced run (which checks and
# times all 50) to keep a run inside the time budget; the two r5
# slowdowns (bigram_topk, hll_distinct) are in it
TIMED = (
    "fetch_join", "minhash_lsh", "ann_ivf", "bigram_topk", "hll_distinct",
    "asof_join", "robots_filter", "sessionize", "range_join", "snapshot_diff",
)

FAMILY = {
    **{q: "dedup" for q in ("minhash_signature", "dedup_exact", "ngram_jaccard",
                            "ngram_jaccard_lsh", "minhash_lsh", "simhash")},
    **{q: "similarity" for q in ("ann_brute_force", "ann_ivf", "ann_lsh",
                                 "embedding_neardup")},
    **{q: "textstats" for q in ("lang_id", "quality", "token_count", "fingerprint",
                                "tfidf_topterms", "hash_sample", "bigram_topk")},
    **{q: "multimodal" for q in ("multimodal_features", "multimodal_frames",
                                 "multimodal_resize")},
    "asof_join": "asof", "host_rank": "graphrank", "robots_filter": "robots",
    "hll_distinct": "sketches", "sessionize": "sessions", "range_join": "rangejoin",
    "snapshot_diff": "snapshot", "connected_components": "components",
    "dedup_groups": "components",
}
FAMILIES = ("core_sql", "textstats", "dedup", "similarity", "multimodal", "asof",
            "graphrank", "robots", "sketches", "sessions", "rangejoin", "snapshot",
            "components")

WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash "
    "join batch stream spark group query row data filter customer line value agg "
    "column vector dup"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
TS0 = np.datetime64("2024-01-01T00:00:00", "us")


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 300, 20, 400, 3000, 12000
    n_ev, n_doc, n_emb = 4000, 480, 600
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj, noun = ["cold", "small", "large", "red", "blue"], ["widget", "bolt", "gear", "nut"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[i % 5]} {noun[(i // 5) % 4]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": TS0 - rng.integers(0, 3000, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        # a tenth of the orders get no lines: the fetch-failure query has rows
        "l_orderkey": rng.integers(0, n_ord * 9 // 10, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": TS0 - rng.integers(0, 3000, n_li) * np.timedelta64(1, "D"),
    })
    gaps = rng.integers(1, 900_000_000, n_ev)  # up to 15 min, in us
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": TS0 + np.cumsum(gaps) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, 50, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 40 and i % 40 == 0:
            texts.append(texts[i - 37])  # exact duplicate
        elif i >= 40 and i % 40 == 1:
            texts.append(texts[i - 30] + " dup")  # near duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(20, 90)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 5}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))) / 8
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def setup(spark, seed: int, sf_dir: str) -> None:
    """Generate, write and scan every table once."""
    write_tables(make_tables(seed), sf_dir)
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).count()


def check_all(spark, sf_dir: str, names) -> tuple[dict[str, float], list[str]]:
    """Run each query once into pandas (timed) and compare it with
    DuckDB (untimed). Returns the seconds per query and the queries
    that raised or differ."""
    from scripts.check_contract import compare, duck_conn

    con = duck_conn(sf_dir)
    secs, bad = {}, []
    for name in names:
        t0 = time.perf_counter()
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
            secs[name] = time.perf_counter() - t0
            verdict = compare(name, got, con.execute(ORACLES[name]).df())
        except Exception as e:  # a raising query is a failed operation
            secs[name] = time.perf_counter() - t0
            verdict = f"{type(e).__name__}: {str(e)[:200]}"
        spark.catalog.clearCache()
        if verdict != "OK":
            bad.append(f"{name}: {verdict[:200]}")
    con.close()
    return secs, bad


def timed_pass(spark, sf_dir: str, names) -> dict[str, float]:
    secs = {}
    for name in names:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs[name] = time.perf_counter() - t0
        # operators persist per-query intermediates; release them so
        # cached blocks do not pile up across queries
        spark.catalog.clearCache()
    return secs


def run(spark, args, cores: int, work: str, spans: list, boot_s: float) -> dict:
    setup_secs = []
    t = time.time()
    # the traced run reports no setup_s, so one set-up is enough there
    for k in range(1 if args.trace else SETUP_REPS):
        t0, steal0 = time.perf_counter(), vm_steal_s()
        sf_dir = os.path.join(work, f"tables-{k}")
        setup(spark, args.seed, sf_dir)
        setup_secs.append(less_steal(time.perf_counter() - t0, vm_steal_s() - steal0, cores))
    spans.append(("setup", t, time.time()))
    names = list(QUERIES) if args.trace else list(TIMED)
    t = time.time()
    first, bad = check_all(spark, sf_dir, names)
    spans.append(("check", t, time.time()))
    if args.trace:
        # per family: the first (cold) execution, collected to pandas
        metrics = {f"queries.{f}_s": 0.0 for f in FAMILIES}
        for name, s in first.items():
            metrics[f"queries.{FAMILY.get(name, 'core_sql')}_s"] += s
        metrics["queries.duckdb_match"] = len(names) - len(bad)
        metrics["session.boot_s"] = boot_s
        return {"attempted": len(names), "failed": len(bad), "reasons": bad,
                "iterations": 1, "metrics": metrics}

    passes = []
    t_loop = time.time()
    while True:
        with TreeSampler() as s:
            t = time.time()
            secs = timed_pass(spark, sf_dir, names)
        spans.append((f"pass#{len(passes) + 1}", t, time.time()))
        passes.append({"secs": secs, "cpu_s": s.cpu_s, "steal_s": s.steal_s,
                       "peak_rss_mb": s.peak_rss_mb})
        if time.time() - t_loop >= args.seconds:
            break
    lat = [s for p in passes for s in p["secs"].values()]
    raw_walls = [sum(p["secs"].values()) for p in passes]
    walls = [less_steal(w, p["steal_s"], cores) for w, p in zip(raw_walls, passes)]
    metrics = {
        "cpu_s_per_op": sum(p["cpu_s"] for p in passes) / len(lat),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
        "setup_s": statistics.median(setup_secs),
        "wall_s": statistics.median(walls),
        "queries_per_s": statistics.median(len(names) / w for w in walls),
    }
    # the check is one execution of every query; the timed passes are more
    attempted = len(names) * (1 + len(passes))
    return {"attempted": attempted, "failed": len(bad), "reasons": bad,
            "iterations": len(passes), "metrics": metrics,
            "ops": [round(s, 3) for s in lat],
            "raw_wall_s": [round(w, 3) for w in raw_walls],
            "steal_s": [round(p["steal_s"], 2) for p in passes]}
