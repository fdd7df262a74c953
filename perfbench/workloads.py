"""The benchmark workloads: the flagship link line, and the ingest and
curate lines run back to back.

Each workload makes its inputs from the seed (``setup``), runs one pass
of its line (``run``, timed by the caller), then checks the pass's
outputs (``check``) and returns a fingerprint that must repeat across
passes of one seed. A pass given a :class:`spans.Recorder` records spans
around the calls into ``soweego_spark.operators.*`` and
``soweego_spark.plans.*``.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

import numpy as np
from pyspark.sql import functions as F

from soweego_spark.operators import blocking as blk
from soweego_spark.operators import classify as clf
from soweego_spark.operators import pairfeatures as pf
from soweego_spark.operators.cluster import assign_clusters
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.plans.checkpoint import StageCheckpointer
from soweego_spark.plans.curate import CurateConfig, load_stage, run_curate
from soweego_spark.plans.ingest_loop import IngestConfig, run_ingest_loop
from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline
from soweego_spark.sources.pages import generate_pages, pages_to_spark


@dataclass(frozen=True)
class Sizes:
    link_entities: int
    corpus_docs: int
    ingest_batches: int


# Sized so that one run (JVM start plus one cold pass) takes 30-65 s on a
# 4-core host: the benchmark's 48 runs must end within 57 minutes.
FULL = Sizes(link_entities=250, corpus_docs=400, ingest_batches=2)
SMOKE = Sizes(link_entities=200, corpus_docs=200, ingest_batches=2)

# The repository's synthetic documents table (TESTDATA.md; sf0.01 and
# sf0.1 measured alike): 10-99 words per doc (sf0.1: median 54,
# quartiles 32 and 76), drawn uniformly from these 30 words. 5 % of the
# docs are an earlier doc with the word "dup" appended (sf0.1: 250 of
# 5,000; sf0.01: 25 of 500) and 0.16 % are exact copies (sf0.1: 8 of
# 5,000). The ingest loop keeps 4,756 of sf0.1's 5,000 docs, a kept
# ratio of 0.951 (BENCH_r07.json, ingest_loop).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_COPY_SHARE = 0.05
EXACT_COPY_SHARE = 0.0016


def make_docs(n: int, seed: int) -> list[tuple[int, str]]:
    """``n`` seeded documents with the documents table's length range,
    vocabulary and copy shares."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < EXACT_COPY_SHARE:
            texts.append(texts[rng.integers(i)])
        elif i and r < EXACT_COPY_SHARE + NEAR_COPY_SHARE:
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            idx = rng.integers(0, len(VOCAB), rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in idx))
    return list(enumerate(texts))


def _seeded_bucket(seed: int, key: int, n: int) -> int:
    digest = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()
    return int(digest[:8], 16) % n


def _docs_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(items) -> str:
    return hashlib.sha256(repr(sorted(items)).encode()).hexdigest()[:16]


def dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 1e6


class Link:
    """Flagship entity resolution: pages -> clusters, no checkpointer."""

    name = "link"

    def __init__(self, sizes: Sizes):
        self.n_entities = sizes.link_entities

    def setup(self, spark, seed: int):
        fx = generate_pages(n_entities=self.n_entities, seed=seed)
        pages, _, labeled, _ = pages_to_spark(spark, fx)
        closure = {
            r.code: list(r.related)
            for r in fx.occupation_closure.itertuples(index=False)
        }
        return SimpleNamespace(
            pages=pages, labeled=labeled, n_docs=len(fx.pages),
            cfg=PipelineConfig(occupation_closure=closure),
        )

    def run(self, spark, inp, state: Path, rec=None):
        if rec is None:
            res = run_pipeline(spark, inp.pages, inp.labeled, inp.cfg)
            _noop(res.clusters)
            return SimpleNamespace(
                features=res.features, matches=res.matches,
                f1=res.metrics["f1"],
            )
        return self._run_staged(inp, rec)

    @staticmethod
    def _run_staged(inp, rec):
        """``run_pipeline``'s stages one by one, each forced by a noop
        write so that its Spark work lands in its own span."""
        cfg = inp.cfg
        with rec.span("extract"):
            sig = extract_signatures(inp.pages)
            sig.cache()
            _noop(sig)
        with rec.span("blocking"):
            pairs = blk.block_candidates(
                sig, top_k=cfg.top_k, token_df_cap=cfg.token_df_cap,
                use_lsh=cfg.use_lsh, use_url_key=cfg.use_url_key,
                lsh_rows_per_band=cfg.lsh_rows_per_band,
            )
            _noop(pairs)
        with rec.span("pairfeatures"):
            pair_rows = pf.assemble_pairs(
                pairs, sig, occupation_closure=cfg.occupation_closure
            )
            features = pf.compute_features(
                pair_rows, occupation_closure=cfg.occupation_closure,
                carry_rule_cols=True,
            )
            features.cache()
            _noop(features)
        with rec.span("classify.train"):
            X, y = clf.collect_training_matrix(features, inp.labeled)
            model = clf.train_logistic(X, y)
        with rec.span("classify.score"):
            scored = clf.apply_rules(
                clf.score(features, model), pair_rows=None,
                name_rule=cfg.name_rule, url_rule=cfg.url_rule,
            )
            matches = clf.threshold_and_dedup(scored, threshold=cfg.threshold)
            matches.cache()
            _noop(matches)
        with rec.span("cluster"):
            _noop(assign_clusters(sig.select("url"), matches))
        with rec.span("classify.metrics"):
            metrics = clf.confusion_and_f1(matches, inp.labeled)
        return SimpleNamespace(
            features=features, matches=matches, f1=metrics["f1"]
        )

    def check(self, spark, inp, out, state: Path):
        problems = []
        if out.f1 < 0.99:
            problems.append(f"er_f1 {out.f1:.5f} < 0.99")
        pairs = [(r.url_a, r.url_b) for r in out.matches.collect()]
        return problems, {"f1": out.f1, "matches": _digest(pairs)}

    def layer_extras(self, spark, inp, out, state: Path) -> dict:
        n_pairs = out.features.count()
        pos = inp.labeled.where(F.col("label") == 1).select("url_a", "url_b")
        found = pos.join(out.features.select("url_a", "url_b"),
                         ["url_a", "url_b"], "left_semi").count()
        return {
            "blocking.pairs": n_pairs,
            "blocking.pos_recall": found / max(pos.count(), 1),
            "classify.match_yield": out.matches.count() / max(n_pairs, 1),
            "classify.metrics.f1": out.f1,
        }


@contextmanager
def traced_checkpointer(rec, span_of):
    """Time ``StageCheckpointer.stage`` under the span ``span_of(name)``
    and ``StageCheckpointer.save`` under ``checkpoint.save``.

    A save writes the stage's lazy plan, so the write runs the stage's
    own work: that part stays with the stage span. ``checkpoint.save``
    keeps what follows the write's commit (``_SUCCESS``): the
    per-partition lineage count, the read-back and the manifest."""
    orig_stage, orig_save = StageCheckpointer.stage, StageCheckpointer.save
    stats = {"saves": 0, "lineage_s": 0.0, "written_mb": 0.0}

    def stage(self, name, config, compute):
        with rec.span(span_of(name)):
            return orig_stage(self, name, config, compute)

    def save(self, stage_name, df, cfg_hash):
        sp = rec.open("checkpoint.save")
        try:
            return orig_save(self, stage_name, df, cfg_hash)
        finally:
            data = self.root / stage_name / "data"
            done = data / "_SUCCESS"
            if done.exists():
                sp.start = done.stat().st_mtime
                rec.store.sync()
                hi = rec.store.jobs_started()
                while sp.job_lo < hi and rec.store.job_window(sp.job_lo)[0] < sp.start:
                    sp.job_lo += 1
            rec.close(sp)
            stats["saves"] += 1
            stats["written_mb"] += dir_mb(data)
            for jid in sp.jobs:
                submitted, completed = rec.store.job_window(jid)
                stats["lineage_s"] += completed - submitted

    StageCheckpointer.stage, StageCheckpointer.save = stage, save
    try:
        yield stats
    finally:
        StageCheckpointer.stage, StageCheckpointer.save = orig_stage, orig_save


_INGEST_SPANS = {
    "kept_b": "ingest.probe",
    "toks_d": "ingest.fold", "seen_d": "ingest.fold", "bands_d": "ingest.fold",
    "toks_b": "ingest.compact", "seen_b": "ingest.compact",
    "bands_b": "ingest.compact",
}
_CURATE_DOC_STAGES = ("quality", "exact", "neardup", "decontam", "counts")


class Corpus:
    """The training-data lines back to back: the ingest loop dedups seeded
    batches against a growing, checkpointed corpus, then curation runs
    quality filters, exact and near dedup within one batch,
    decontamination, token counts and sequence packing over the same
    documents. Each line gets a fresh state root per pass."""

    name = "corpus"

    def __init__(self, sizes: Sizes):
        self.n_docs = sizes.corpus_docs
        self.n_batches = sizes.ingest_batches
        self.cfg = CurateConfig()

    def setup(self, spark, seed: int):
        docs = make_docs(self.n_docs, seed)
        parts = [[] for _ in range(self.n_batches)]
        for row in docs:
            parts[_seeded_bucket(seed, row[0], self.n_batches)].append(row)
        batches = [
            (f"seed{seed}-b{i}", lambda df=_docs_frame(spark, part): df)
            for i, part in enumerate(parts)
        ]
        # the decontamination set: a seeded 2 % slice of the docs
        bench = _docs_frame(
            spark, [r for r in docs if _seeded_bucket(seed, r[0], 50) == 0]
        )
        all_docs = _docs_frame(spark, docs)
        return SimpleNamespace(
            docs=docs, batches=batches, all_docs=lambda: all_docs,
            bench=lambda: bench, n_docs=len(docs),
        )

    def _kept(self, spark, state: Path):
        """The docs the ingest loop kept, read from its stage output."""
        paths = [str(state / "ingest" / f"kept_b{i}" / "data")
                 for i in range(1, self.n_batches + 1)]
        return spark.read.parquet(*paths).select("doc_id", "text")

    def run(self, spark, inp, state: Path, rec=None):
        def lines():
            ing = run_ingest_loop(spark, str(state / "ingest"), inp.batches,
                                  IngestConfig())
            if rec is not None:
                rec.close(batch_span[0])
            cur = run_curate(
                spark, str(state / "curate"), inp.all_docs, self.cfg,
                bench_thunk=inp.bench,
            )
            return SimpleNamespace(ingest=ing, curate=cur, ckpt_stats=None)

        if rec is None:
            return lines()
        batch_span = [None]

        def span_of(stage_name: str) -> str:
            if not stage_name[-1].isdigit():
                return f"curate.{stage_name}"
            # a batch starts with its kept_b<i> stage and ends where the
            # next one starts (or where the loop returns)
            if stage_name.startswith("kept_b"):
                if batch_span[0] is not None:
                    rec.close(batch_span[0])
                batch_span[0] = rec.open("ingest.batch")
            return _INGEST_SPANS[stage_name.rstrip("0123456789")]

        with traced_checkpointer(rec, span_of) as ckpt_stats:
            out = lines()
        out.ckpt_stats = ckpt_stats
        return out

    def check(self, spark, inp, out, state: Path):
        kept = [(r.doc_id, r.text) for r in self._kept(spark, state).collect()]
        problems = self._check_ingest(inp, out.ingest, kept)
        problems += self._check_curate(spark, out.curate, state)
        rows = {s["stage"]: s["rows"] for s in out.curate["stages"]}
        return problems, {"kept": len(kept),
                          "ids": _digest(d for d, _ in kept), "rows": rows}

    @staticmethod
    def _check_ingest(inp, res, kept) -> list[str]:
        problems = []
        if res.total_in != len(inp.docs):
            problems.append(f"docs in {res.total_in} != {len(inp.docs)}")
        if not set(kept) <= set(inp.docs):
            problems.append("kept docs are not a subset of the input")
        if len(kept) != res.total_kept:
            problems.append("kept count disagrees with the stage manifests")
        # content_keys hashes the text, so a shared key is a shared text
        texts = [t for _, t in kept]
        if len(set(texts)) != len(texts):
            problems.append("kept docs share a content key")
        return problems

    def _check_curate(self, spark, res, state: Path) -> list[str]:
        problems = []
        rows = {s["stage"]: s["rows"] for s in res["stages"]}
        counts = [rows.get(s) for s in _CURATE_DOC_STAGES]
        if None in counts or "pack" not in rows:
            return [f"curate stages missing: {sorted(rows)}"]
        if any(b > a for a, b in zip(counts, counts[1:])):
            problems.append(f"curate row counts increase: {counts}")
        # the input's near copies (5 % of the docs) pass exact dedup, so
        # near dedup must drop some of them
        if rows["neardup"] >= rows["exact"]:
            problems.append("near-duplicate removal dropped no docs")
        root = str(state / "curate")
        n_tok = {r.doc_id: r.n for r in load_stage(spark, root, "counts")
                 .where("n >= 1").collect()}
        per_doc, per_seq = Counter(), Counter()
        for r in load_stage(spark, root, "pack").collect():
            per_doc[r.doc_id] += r.seg_len
            per_seq[(r.shard, r.seq_no)] += r.seg_len
        if per_doc != n_tok:
            problems.append("packed token counts differ from the counts stage")
        if max(per_seq.values(), default=0) > self.cfg.seq_len:
            problems.append("a packed sequence exceeds seq_len")
        return problems

    def layer_extras(self, spark, inp, out, state: Path) -> dict:
        st, ing = out.ckpt_stats, out.ingest
        extras = {
            f"curate.{s['stage']}.rows": s["rows"]
            for s in out.curate["stages"]
        }
        extras.update({
            "checkpoint.saves": st["saves"],
            "checkpoint.lineage_s": st["lineage_s"],
            "checkpoint.written_mb": st["written_mb"],
            "ingest.state_mb": dir_mb(state / "ingest"),
            "dedup.kept_ratio": ing.total_kept / max(ing.total_in, 1),
        })
        return extras


WORKLOADS = {w.name: w for w in (Link, Corpus)}
