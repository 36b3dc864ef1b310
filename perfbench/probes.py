"""Kernel probes: each public kernel timed on its own, fed with the
pages of the workload that just ran and the url hashes of their links.

Timings are the best of ``REPS`` calls; rates count input rows or
bytes. Filter false-positive rates are measured on md5 keys that are
known to be absent.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from crawler_spark.functions.decode import decode_html_udf
from crawler_spark.functions.parse import apply_parse, jvm_parsed_expr
from crawler_spark.functions.urlnorm import canonicalize_udf, with_url_identity
from crawler_spark.operators.bloom import BloomFilter, word_exprs
from crawler_spark.operators.cuckoo import CuckooFilter
from crawler_spark.operators.robots import filter_robots_allowed, prepare_robots
from crawler_spark.operators.seenstore import seen_members
from crawler_spark.sources.corpus import GENERIC_LINK_RE, GENERIC_RULE
from crawler_spark.sources.tableio import TableIO

REPS = 2
TABLES = ("frontier", "frontier_delta", "seen", "seen_runs", "bloom")


def best(fn) -> float:
    out = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return min(out)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _words(df):
    ha, hb = word_exprs("url_hash")
    pdf = df.select(ha.alias("a"), hb.alias("b")).toPandas()
    return pdf["a"].to_numpy(), pdf["b"].to_numpy()


def filter_probes(spark, keys_df) -> dict:
    n = keys_df.count()
    absent_df = spark.range(n).select(
        F.md5(F.concat(F.lit("absent-"), F.col("id").cast("string"))).alias("url_hash")
    )
    a, b = _words(keys_df)
    xa, xb = _words(absent_df)
    out = {}
    bf = BloomFilter(capacity=n, fpp=0.01)
    out["bloom.add_ns_per_key"] = 1e9 * best(lambda: bf.add_words(a, b)) / n
    out["bloom.contains_ns_per_key"] = 1e9 * best(lambda: bf.contains_words(a, b)) / n
    out["bloom.fpp"] = float(bf.contains_words(xa, xb).mean())
    filters = []

    def insert():
        filters.append(CuckooFilter(capacity=n))
        filters[-1].insert_words(a, b)

    out["cuckoo.insert_ns_per_key"] = 1e9 * best(insert) / n
    cf = filters[-1]
    out["cuckoo.contains_ns_per_key"] = 1e9 * best(lambda: cf.contains_words(a, b)) / n
    out["cuckoo.fpp"] = float(cf.contains_words(xa, xb).mean())
    return out


def store_probes(spark, keys_df, root: str, cores: int) -> dict:
    """TableIO.write_round of the keys as one sorted run, then
    seen_members over half present, half absent keys."""
    io = TableIO(spark, root, mode="parquet")
    t0 = time.perf_counter()
    io.write_round(keys_df, "seen", 1, n_files=2, sort_within="url_hash")
    write_s = time.perf_counter() - t0
    paths = sorted(glob.glob(os.path.join(root, "seen", "round=1", "*.parquet")))
    mb = sum(os.path.getsize(p) for p in paths) / 2**20
    n = keys_df.count()
    probe = keys_df.limit(n // 2).unionByName(
        spark.range(n - n // 2).select(
            F.md5(F.concat(F.lit("absent-"), F.col("id").cast("string"))).alias("url_hash")
        )
    ).persist()
    probe.count()
    members = []
    secs = best(lambda: members.append(seen_members(probe, paths, n_groups=cores).count()))
    probe.unpersist()
    return {
        "tableio.write_round_mb_per_s": mb / write_s,
        "seenstore.members_ns_per_key": 1e9 * secs / n,
        "seenstore.hit_ratio": members[-1] / n,
    }


def page_probes(pages, links, frontier, robots_df) -> dict:
    """Parse, decode, canonicalization, robots and the Arrow hop over
    the workload's own pages and the links in them."""
    mb = pages.select(F.sum(F.length("html"))).first()[0] / 2**20
    n_links = links.count()
    ruled = pages.select(
        F.lit(GENERIC_RULE.name).alias("rule"), "url", "text",
        F.lit(None).cast("string").alias("temp"),
    )
    prepared = prepare_robots(robots_df)

    # nested, so it is pickled by value: workers cannot import this file
    @pandas_udf(BinaryType())
    def identity(s: pd.Series) -> pd.Series:
        return s

    return {
        "parse.udf_mb_per_s": mb / best(lambda: noop(
            apply_parse(ruled, {GENERIC_RULE.name: GENERIC_RULE}).select("parsed"))),
        "parse.jvm_mb_per_s": mb / best(lambda: noop(
            pages.select(jvm_parsed_expr(GENERIC_RULE, F.col("text")).alias("parsed")))),
        "decode.mb_per_s": mb / best(lambda: noop(pages.select(decode_html_udf("html")))),
        "arrow.identity_udf_s_per_mb": best(lambda: noop(pages.select(identity("html")))) / mb,
        "urlnorm.canonicalize_udf_rows_per_s": n_links / best(lambda: noop(
            links.select(canonicalize_udf("url")))),
        "urlnorm.url_identity_rows_per_s": n_links / best(lambda: noop(
            with_url_identity(links, "url", None))),
        "robots.filter_rows_per_s": n_links / best(
            lambda: noop(filter_robots_allowed(frontier, prepared))),
    }


def crawl_probes(run, eng) -> dict:
    """Every probe, fed with the crawl's corpus: its pages, the links
    in them, and the distinct url hashes of those links (a superset of
    the seen ledger: every key a crawl of this corpus can see)."""
    import crawls

    spark = run.spark
    corpus = run.corpus
    html = F.col("html") if "html" in corpus.columns else F.encode("text", "utf-8")
    pages = corpus.select(
        "url", html.alias("html"), F.decode(html, "utf-8").alias("text")
    ).persist()
    links = pages.select(
        F.explode(F.regexp_extract_all("text", F.lit(GENERIC_LINK_RE), F.lit(1))).alias("url")
    ).persist()
    frontier = with_url_identity(links, "url", None).persist()
    keys = frontier.select("url_hash").distinct().persist()
    keys.count()
    robots_df = spark.createDataFrame(
        crawls.robots_rules(run.shape), "host string, path_prefix string, allow boolean"
    )
    out = filter_probes(spark, keys)
    out.update(store_probes(spark, keys, os.path.join(run.work, "probe-store"), run.cores))
    out.update(page_probes(pages, links, frontier, robots_df))
    for df in (keys, frontier, links, pages):
        df.unpersist()
    out["state.seen_rows"] = eng.read_seen().count()
    return out


def table_sizes(workdir: str) -> dict:
    out = {}
    for name in TABLES:
        files = [p for p in glob.glob(os.path.join(workdir, name, "**"), recursive=True)
                 if os.path.isfile(p)]
        out[f"tableio.{name}_mb"] = sum(os.path.getsize(p) for p in files) / 2**20
        out[f"tableio.{name}_files"] = len(files)
    return out
