"""soweego_spark/pins.py — the one pin lifecycle.

Every production call below runs with a collect or write inside
``pins.scope()``; once the scope exits no RDD may stay pinned that was
not pinned before it, and the CacheManager must be empty. Persistent
RDDs are compared by id rather than by count, so an older pin that GC
happens to clean up during the scope cannot mask a new leak. The
operator-level checks also assert that the call really pinned something
inside the scope, so a passing check is not vacuous.
"""

from __future__ import annotations

import re
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from soweego_spark import pins
from soweego_spark.operators.cluster import connected_components
from soweego_spark.operators.corpus import (
    duplicated_spans,
    duplicated_spans_incremental,
    gram_counts,
)
from soweego_spark.operators.dedup import fingerprint_neardup, simhash_pairs
from soweego_spark.plans.curate import CurateConfig, run_curate
from soweego_spark.plans.ingest_loop import IngestConfig, run_ingest_loop
from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline
from soweego_spark.sources.pages import generate_pages, pages_to_spark

PKG = Path(__file__).resolve().parent.parent / "soweego_spark"
_WORDS = [f"w{i:03d}" for i in range(120)]


def _doc(start: int, n: int = 12) -> str:
    # 12-word windows at stride 3: neighbors share few shingles (no
    # accidental near-dups at J >= 0.7); +1 word = a planted near-dup
    return " ".join(_WORDS[(start + j) % len(_WORDS)] for j in range(n))


def _pinned_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _assert_scope_releases(spark, run, pins_inside: bool = True):
    """Run ``run`` inside a scope: nothing pinned survives the exit. With
    ``pins_inside`` the call must have pinned something before the exit
    (checkpointed lines release their pins per stage instead)."""
    spark.catalog.clearCache()
    before = _pinned_rdds(spark)
    with pins.scope():
        run()
        if pins_inside:
            assert _pinned_rdds(spark) - before or not _cache_is_empty(spark)
    assert _pinned_rdds(spark) - before == set()
    assert _cache_is_empty(spark)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, _doc(3 * i)) for i in range(12)]
    rows.append((20, _doc(3 * 2) + " xx"))  # near-dup of doc 2
    rows.append((21, _doc(3 * 5)))  # exact copy of doc 5
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scope_releases_on_exit_and_on_error(spark):
    df = spark.range(20)
    spark.catalog.clearCache()
    before = _pinned_rdds(spark)
    with pytest.raises(RuntimeError):
        with pins.scope():
            pins.persist(df.selectExpr("id * 2 AS x")).count()
            with pins.scope():
                pins.checkpoint(df.selectExpr("id * 3 AS x"))
            lazy = pins.checkpoint(df.selectExpr("id * 4 AS x"), eager=False)
            lazy.count()
            assert len(_pinned_rdds(spark) - before) == 2
            pins.release(lazy)
            assert len(_pinned_rdds(spark) - before) == 1
            raise RuntimeError("body failed")
    assert _pinned_rdds(spark) - before == set()
    assert _cache_is_empty(spark)
    assert pins._scopes == []


class _FakeFrame:
    pinned = False

    def persist(self):
        self.pinned = True
        return self

    def unpersist(self):
        self.pinned = False


def test_registry_under_concurrent_pins():
    """Worker threads pin into the driver's scope (exact-mode dedup does):
    no registration or release may be lost under contention."""
    frames = [_FakeFrame() for _ in range(2000)]

    def work(chunk):
        for i, f in chunk:
            pins.persist(f)
            if i % 2:
                pins.release(f)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pins.scope():
            with ThreadPoolExecutor(16) as pool:
                chunks = [list(enumerate(frames))[k::16] for k in range(16)]
                list(pool.map(work, chunks, timeout=60))
            assert [f.pinned for f in frames] == [
                i % 2 == 0 for i in range(len(frames))
            ]
            assert len(pins._scopes[-1]) == len(frames) // 2
    finally:
        sys.setswitchinterval(old)
    assert not any(f.pinned for f in frames)


def test_run_pipeline_releases_pins(spark):
    fx = generate_pages(n_entities=60, seed=7)
    pages, _, labeled, _ = pages_to_spark(spark, fx)

    def run():
        res = run_pipeline(spark, pages, labeled, PipelineConfig())
        assert res.clusters.count() > 0

    _assert_scope_releases(spark, run)


def test_run_curate_releases_pins(spark, tmp_path):
    rows = [(i, _doc(3 * i) + " ka kb") for i in range(20)]
    rows.append((100, _doc(3 * 1) + " ka kb"))  # exact dup
    rows.append((101, _doc(3 * 2) + " ka kb xx"))  # near-dup
    rows.append((102, "x x x x x x"))  # gopher drop
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurateConfig(
        lm_min_avg_num=1, lm_min_avg_den=1000, lm_max_oov_pct=100,
        num_perm=32, bands=8, shingle_n=3, jaccard_threshold=0.7,
        within_batch="exact", tokenizer="whitespace", seq_len=16,
        n_shards=4,
    )

    def run():
        res = run_curate(spark, tmp_path / "s", lambda: docs, cfg)
        assert res["stages"][-1]["rows"] > 0

    _assert_scope_releases(spark, run, pins_inside=False)


def test_run_ingest_loop_exact_releases_pins(spark, tmp_path):
    batch_rows = [
        # first batch: no corpus; doc 6 is an in-batch near-dup of doc 0
        [(i, _doc(3 * i)) for i in range(6)] + [(6, _doc(0) + " xx")],
        # later batches probe the corpus from two driver threads: doc 17
        # near-dups corpus doc 1, doc 16 near-dups in-batch doc 10
        [(i, _doc(3 * i)) for i in range(10, 16)]
        + [(16, _doc(30) + " yy"), (17, _doc(3) + " zz")],
        [(i, _doc(3 * i)) for i in range(20, 26)],
    ]
    batches = [
        (f"b{i}", lambda r=r: spark.createDataFrame(
            r, "doc_id long, text string"))
        for i, r in enumerate(batch_rows)
    ]
    cfg = IngestConfig(num_perm=32, bands=8, shingle_n=3,
                       within_batch="exact")

    def run():
        res = run_ingest_loop(spark, tmp_path / "s", batches, cfg)
        assert res.total_kept == res.total_in - 3

    _assert_scope_releases(spark, run, pins_inside=False)


@pytest.mark.parametrize(
    "call",
    [
        lambda d: simhash_pairs(d, max_hamming=10),
        lambda d: fingerprint_neardup(d, min_shared=1),
        lambda d: duplicated_spans(d, k=4),
        lambda d: duplicated_spans_incremental(
            d.filter("doc_id >= 10"),
            gram_counts(d.filter("doc_id < 10"), k=4),
            k=4,
        ),
    ],
    ids=["simhash_pairs", "fingerprint_neardup", "duplicated_spans",
         "duplicated_spans_incremental"],
)
def test_operator_releases_pins(spark, docs, call):
    _assert_scope_releases(spark, lambda: call(docs).collect())


@pytest.mark.parametrize("single_task_edges", [0, 1_000_000])
def test_connected_components_releases_pins(spark, single_task_edges):
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
        + [("m0", "m1")],
        "url_a string, url_b string",
    )

    def run():
        out = connected_components(
            edges, single_task_edges=single_task_edges
        ).collect()
        assert len({r["cluster_id"] for r in out}) == 2

    _assert_scope_releases(spark, run)


# plans/golden.py keeps its own persist/unpersist: its flows run only
# against the reference samples directory, so a change there could not
# be exercised by the suite
_RAW_PIN = re.compile(
    r"(?<!pins)\.(persist|localCheckpoint|unpersist)\(|\.cache\(\)"
)
_EXEMPT = {"pins.py", "plans/golden.py"}


def test_no_raw_pin_calls_outside_pins_module():
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() not in _EXEMPT
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _RAW_PIN.search(line)
    ]
    assert offenders == []
