"""Exact-resume: kill after round k, resume from snapshot, final state
identical to the uninterrupted run (north_rule requirement)."""

import pytest

from crawler_spark.config import EngineConfig
from crawler_spark.plans.frontier import FrontierEngine
from crawler_spark.sources.corpus import CORPUS_SCHEMA, build_corpus_pdf, generic_task


def _mk(spark, pdf, workdir, **cfg_kw):
    corpus = spark.createDataFrame(pdf, CORPUS_SCHEMA)
    kw = dict(
        batch_size=8, num_partitions=4, checkpoint_every=1, use_bloom=True,
        bloom_capacity=1 << 14,
    )
    kw.update(cfg_kw)
    cfg = EngineConfig(**kw)
    return FrontierEngine(
        spark, [generic_task(max_depth=3)], corpus, cfg, workdir=workdir
    )


def _state(eng):
    order = [
        (r["round"], r.pull_rank, r.url, r.fetched)
        for r in eng.read_order().collect()
    ]
    seen = {r.url_hash for r in eng.read_seen().collect()}
    frontier_rounds = eng.round
    return order, seen, frontier_rounds


def _pdf():
    return build_corpus_pdf(
        seed=42, n_generic=40, n_hosts=4, out_degree=4,
        n_lists=0, books_per_list=0, n_topics=0,
    )


def _resume_roundtrip(spark, pdf, tmp_path, **cfg_kw):
    full = _mk(spark, pdf, str(tmp_path / "full"), **cfg_kw)
    full.run(max_rounds=6)
    part = _mk(spark, pdf, str(tmp_path / "part"), **cfg_kw)
    part.run(max_rounds=3)
    resumed = _mk(spark, pdf, str(tmp_path / "part"), **cfg_kw)
    resumed.run(max_rounds=3, resume=True)
    assert _state(resumed) == _state(full)


def test_resume_equals_uninterrupted(spark, tmp_path):
    _resume_roundtrip(spark, _pdf(), tmp_path)


def test_resume_distributed_rank_path(spark, tmp_path):
    """Resume mid-crawl on the range-partitioned two-pass pull_rank
    path (rank_window_max=0 forces it) — the snapshot lifecycle the
    large-batch path uses must survive a restart (VERDICT r1 #9)."""
    _resume_roundtrip(spark, _pdf(), tmp_path, rank_window_max=0)


def test_resume_with_engaged_bloom(spark, tmp_path):
    """Resume into an engaged sharded bloom (bloom_min_seen=0): the
    store is rebuilt distributed from the seen ledger and no URL may
    be re-crawled or lost (VERDICT r1 #9 + ADVICE r1)."""
    _resume_roundtrip(spark, _pdf(), tmp_path, bloom_min_seen=0)


def test_resume_crossing_bloom_threshold(spark, tmp_path):
    """Resume while seen < bloom_min_seen, crossing the threshold in
    the resumed run: first engagement must backfill every earlier
    round (the ADVICE r1 false-negative scenario)."""
    _resume_roundtrip(spark, _pdf(), tmp_path, bloom_min_seen=30)


def test_resume_with_changed_band_count_is_exact(spark, tmp_path):
    """seen_runs band=<b> dirs map hash ranges to directories only
    under the seen_bands they were written with (ADVICE r4 medium): a
    resume with a DIFFERENT band count must detect the mismatch via
    the manifest and fall back to the loose seen ledger (dropping the
    runs) instead of probing the wrong band dirs — which would return
    false negatives and silently re-crawl seen URLs."""
    import json
    import os

    kw = dict(bloom_min_seen=0, seen_compact_every=2, seen_bands=8,
              seen_compact_waves=2)
    full = _mk(spark, _pdf(), str(tmp_path / "full"), **kw)
    full.run(max_rounds=6)
    part = _mk(spark, _pdf(), str(tmp_path / "part"), **kw)
    part.run(max_rounds=3)
    assert part._seen_run_state, "compaction must have produced runs"
    with open(os.path.join(str(tmp_path / "part"), "manifest.json")) as f:
        assert json.load(f)["seen_bands"] == 8
    resumed = _mk(spark, _pdf(), str(tmp_path / "part"),
                  **dict(kw, seen_bands=4))
    resumed.run(max_rounds=3, resume=True)
    assert _state(resumed) == _state(full)


def test_resume_after_crash_in_manifest_write(spark, tmp_path, monkeypatch):
    """The manifest is replaced atomically: a crash partway through
    dumping round 4's manifest leaves round 3's readable, and resuming
    from it still ends exactly where the uninterrupted run does."""
    import json
    import os

    full = _mk(spark, _pdf(), str(tmp_path / "full"))
    full.run(max_rounds=6)
    part = _mk(spark, _pdf(), str(tmp_path / "part"))
    part.run(max_rounds=3)
    manifest = os.path.join(str(tmp_path / "part"), "manifest.json")
    with open(manifest) as f:
        before = json.load(f)

    def crash(obj, f):
        f.write('{"round": ')
        raise RuntimeError("crash mid-dump")

    crashed = _mk(spark, _pdf(), str(tmp_path / "part"))
    with monkeypatch.context() as m:
        m.setattr(json, "dump", crash)
        with pytest.raises(RuntimeError, match="crash mid-dump"):
            crashed.run(max_rounds=1, resume=True)
    with open(manifest) as f:
        assert json.load(f) == before
    resumed = _mk(spark, _pdf(), str(tmp_path / "part"))
    resumed.run(max_rounds=3, resume=True)
    assert _state(resumed) == _state(full)
