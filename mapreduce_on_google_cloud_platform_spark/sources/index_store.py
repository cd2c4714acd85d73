"""Per-scale-factor materialized intermediates: index once, probe many.

Round 10 (VERDICT r9 item #3).  The heavy dedup/ANN/k-means queries all
share a small set of expensive deterministic intermediates -- the shingle
set, the MinHash signature/band table, the verified near-dup pair table,
the fixed-point embedding grid, LSH signatures, PQ codes, the k-means
assignment.  Rebuilt from raw inside every query they dominated the
bench floor (25 queries > 4 s at sf0.1, all one family); at 100 TB the
correct architecture is the classic index-build / probe separation: the
intermediate is materialized ONCE per dataset as a persisted columnar
table and every downstream query starts from the parquet scan (with
pushdown + pruning), exactly like a production search/dedup system keeps
its signature and posting tables beside the corpus.

``materialized`` is the whole mechanism: read the table if it exists,
else build it with the supplied builder, write atomically (tmp dir +
rename; a concurrent builder losing the race just discards its copy),
and read back.  Correctness is unaffected -- every materialized table is
a deterministic exact function of the raw tables (integer/md5/fixed-point
arithmetic; doubles round-trip parquet bit-exactly), and each family
keeps one end-to-end-from-raw variant whose oracle checks the full
pipeline.  ``version`` participates in the path: bump it when a
builder's semantics change so stale tables can never be served.

The store lives under the (gitignored) ``spark-warehouse/index_store``
unless ``SPARK_GRAFT_INDEX_DIR`` overrides it, keyed by the sf_dir
basename PLUS a fingerprint of the source parquet files (size + mtime of
every table file): the checkout -- and with it the store -- persists
across rounds while the round driver REGENERATES ``/root/testdata``, so
without the fingerprint a stale index could silently serve last round's
data.  A regenerated dataset changes the fingerprint, which changes the
path, which forces a rebuild.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _store_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(_REPO_ROOT, "spark-warehouse", "index_store"),
    )


def _dataset_fingerprint(sf_dir: str) -> str:
    """Stable token for the dataset's current contents: (relative path,
    size, mtime_ns) of every file under sf_dir -- RECURSIVELY, so a
    directory-layout table (e.g. a partitioned ``events.parquet/`` dir)
    can't serve a stale index after only its inner part-files change
    (VERDICT r10 item #5) -- hashed.  Regeneration by the round driver
    changes mtimes, so stale indexes become unreachable."""
    h = hashlib.md5()
    try:
        for root, dirs, files in os.walk(sf_dir):
            dirs.sort()  # deterministic walk order
            rel_root = os.path.relpath(root, sf_dir)
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                rel = fn if rel_root == "." else os.path.join(rel_root, fn)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    except OSError:
        pass  # nonexistent sf_dir: the builder's scan will raise cleanly
    return h.hexdigest()[:12]


# Physical-layout generation, part of every index path: bumped whenever
# the WRITTEN layout policy changes so a pre-existing store (which
# persists across rounds) can never silently serve the old layout.
# ADVICE r12: the round-12 flat-32 re-spread changed the layout without
# a bump, so stale single-file caches kept the slow layout.  g2 = the
# size-gated fan-out below.
_LAYOUT_GEN = "g2"

# Target bytes per written index part-file, env-overridable.  Local
# default 64 KiB: measured on this machine (see OPTIMIZATION_r13.md),
# it is the break-even where one more scan task stops paying for its
# ~5-15 ms of scheduling+open overhead on these probe pipelines --
# smaller tables collapse to fewer files (round 12's flat 32-way
# fan-out regressed the tiny-table probes dbscan_lsh_clusters /
# ann_filtered_topk / ann_ivf_topk), larger tables still spread to the
# full core count.  At production scale set this to 128-512 MiB (guide
# §6 file sizing); the fan-out is additionally capped by the session's
# default_parallelism, so the policy scales with the cluster rather
# than encoding local core count.
_FILE_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_INDEX_FILE_TARGET", 64 * 1024)
)


def index_path(sf_dir: str, name: str, version: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = _dataset_fingerprint(sf_dir)
    return os.path.join(
        _store_root(), f"{tag}-{fp}", f"{name}.{version}-{_LAYOUT_GEN}"
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.stat(os.path.join(root, fn)).st_size
            except OSError:
                pass
    return total


# per-process log of index paths this process actually BUILT (vs read):
# lets build_all_indexes report cold builds vs warm reuse honestly
_BUILD_LOG: list[str] = []


def materialized(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version: str,
    build,
) -> DataFrame:
    """Return the materialized intermediate ``name`` for ``sf_dir``,
    building it via ``build(spark, sf_dir) -> DataFrame`` on first use."""
    from ..session import default_parallelism

    path = index_path(sf_dir, name, version)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp.{os.getpid()}"
        stage = f"{path}.stage.{os.getpid()}"
        # Two-phase write with a SIZE-GATED fan-out (optimization round
        # 13, VERDICT r12 item #5).  Round 12 spread every index table
        # round-robin across default_parallelism part files because a
        # single-file table pinned every probe query to a one-task scan
        # (the PQ/ANN family ran its 64-wide integer arithmetic on one
        # core); but the FLAT fan-out also shredded tiny tables (50 KB
        # ivf_assign -> 32 x 1.5 KB files) and the small probes paid
        # more in per-file open/schedule overhead than they gained
        # (dbscan_lsh_clusters 2.4->3.3 s, ann_filtered_topk 0.8->1.5 s).
        # Now: stage the build once to learn its true bytes, then lay it
        # out across ceil(bytes / _FILE_TARGET_BYTES) files capped at
        # default_parallelism -- big tables keep the full spread, tiny
        # tables collapse back toward one file.  The extra read+write of
        # the staged copy is one-time index-BUILD cost, reported
        # separately in index_build_sec as always; values are unaffected
        # (every consumer is pinned order-independent by the two-layout
        # stability sweeps).
        build(spark, sf_dir).write.mode("overwrite").parquet(stage)
        n_files = max(
            1,
            min(
                default_parallelism(),
                -(-_dir_bytes(stage) // _FILE_TARGET_BYTES),
            ),
        )
        n_staged = sum(
            1 for f in os.listdir(stage) if f.startswith("part-")
        )
        if n_staged == n_files:
            # the natural build layout already matches the policy (most
            # small tables: one AQE-coalesced output file) -- promote the
            # staged copy and skip the second write entirely
            tmp, stage = stage, None
        else:
            spark.read.parquet(stage).repartition(n_files).write.mode(
                "overwrite"
            ).parquet(tmp)
            shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder won the rename race; both copies are
            # deterministic functions of the same input -- discard ours
            shutil.rmtree(tmp, ignore_errors=True)
        _BUILD_LOG.append(path)
    return read_parquet(spark, path)


def drop_index(sf_dir: str, name: str, version: str) -> None:
    """Test hook: force the next ``materialized`` call to rebuild."""
    shutil.rmtree(index_path(sf_dir, name, version), ignore_errors=True)


def build_all_indexes(spark: SparkSession, sf_dir: str) -> dict:
    """Build (or verify) every declared index table for ``sf_dir`` --
    the explicit index-build phase of the index/probe split.  bench.py
    runs and times this BEFORE the query trials so probe timings measure
    serving cost and the one-time build is reported separately (at 100 TB
    this is the scheduled indexing job, not part of any query).

    Returns {"built": [...], "reused": [...]} so a bench record shows
    honestly whether its index-build time was a cold build or a warm
    existence check of tables persisted by an earlier run."""
    from ..operators import dedup, similarity

    accessors = [
        dedup.shingles_indexed,
        dedup.minhash_sig_indexed,
        dedup.jaccard_pairs_indexed,
        dedup.neardup_pairs_indexed,
        dedup.simhash_pairs_indexed,
        dedup.simhash_clusters_indexed,
        similarity.emb_norm_indexed,
        similarity.lsh_sig_indexed,
        similarity.pq_vectors_indexed,
        similarity.pq_codes_indexed,
        similarity.pq_coarse_assign_indexed,
        similarity.pq_residuals_indexed,
        similarity.pq_res_codes_indexed,
        similarity.ivf_assign_indexed,
        similarity.ann_truth_indexed,
        similarity.ivf_topk_indexed,
        similarity.knn_edges_indexed,
        similarity.kmeans_assign_indexed,
    ]
    built, reused = [], []
    for fn in accessors:
        before = len(_BUILD_LOG)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (built if len(_BUILD_LOG) > before else reused).append(fn.__name__)
    return {"built": built, "reused": reused}
