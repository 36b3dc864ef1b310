"""spark-submit driver for the frontier engine (north_rule boot path).

The cluster-mode analogue of ``python -m crawler_spark run``: the
SparkSession comes from the spark-submit conf (master, executors,
memory, shuffle partitions), and the package reaches the executors via
``--py-files`` instead of an installed wheel:

    cd <repo> && zip -qr /tmp/crawler_spark.zip crawler_spark
    spark-submit --master <spark://…|yarn|local[N]> \
        --py-files /tmp/crawler_spark.zip \
        scripts/spark_submit_entry.py \
        --config config.toml --corpus pages.parquet \
        [--workdir DIR] [--max-rounds N] [--resume]

Mirrors the reference's ``crawler worker`` boot (cmd/worker/
worker.go:62-131): tasks + politeness limits from the config file,
engine knobs from ``[engine]``. Prints one JSON metrics line.

Engine-required conf (AQE, Arrow, UTC session TZ) is applied only
where spark-submit didn't already set it, so ``--conf`` always wins —
cluster sizing (master/memory/parallelism) is entirely the submitter's.
Sandboxed/NAT hosts additionally want ``SPARK_LOCAL_IP=127.0.0.1`` and
the RawLocalFileSystem/committer-v2 conf from crawler_spark/session.py
(see CLAUDE.md); on a real cluster with HDFS/S3 + libhadoop none of
that applies.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark import SparkConf
from pyspark.sql import SparkSession

ENGINE_CONF_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
}


def build_session() -> SparkSession:
    # PySpark's default worker daemon stays: crawler_spark.worker_daemon
    # (what get_spark sets) must be importable when the executor starts
    # the daemon, and the --py-files zip is not on the daemon's path —
    # only the forked workers add it, per task
    submitted = SparkConf()  # reads the spark-submit conf/properties
    builder = SparkSession.builder
    for k, v in ENGINE_CONF_DEFAULTS.items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    return builder.getOrCreate()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="spark_submit_entry.py")
    p.add_argument("--config", required=True, help="TOML/JSON config path")
    p.add_argument("--corpus", required=True, help="pages parquet path")
    p.add_argument("--workdir", default="/tmp/crawler_spark_run")
    p.add_argument("--max-rounds", type=int, default=0)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args(argv)

    # imports resolve from --py-files on driver AND executors
    from crawler_spark.loader import load_config
    from crawler_spark.plans.frontier import FrontierEngine
    from crawler_spark.sources.corpus import CORPUS_SCHEMA, dedup_corpus

    tasks, cfg = load_config(args.config)
    if not tasks:
        print("no tasks in config", file=sys.stderr)
        return 2
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    corpus = dedup_corpus(
        spark.read.schema(CORPUS_SCHEMA).parquet(args.corpus)
    )
    eng = FrontierEngine(spark, tasks, corpus, cfg, workdir=args.workdir)
    res = eng.run(max_rounds=args.max_rounds or None, resume=args.resume)
    print(json.dumps({
        "rounds": res["rounds"],
        "workdir": res["workdir"],
        "tasks": [t.name for t in tasks],
        "urls_scheduled": int(sum(m["batch"] for m in eng.metrics)),
        "urls_fetched": int(sum(m["fetched"] for m in eng.metrics)),
        "failures": int(sum(m["failures"] for m in eng.metrics)),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
