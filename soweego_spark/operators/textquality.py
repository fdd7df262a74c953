"""Repetition/quality heuristics and PII scrubbing for web-text curation.

Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", appendix A1.1 — the
publicly documented repetition filters used by most LLM data pipelines):
word counts, mean word length, distinct-word ratio, top-bigram fraction.
Every metric, the bigram mode included, is a Catalyst array expression
over the document's own token array — one narrow projection with no
exchange, NO per-doc Python, no driver work, no unbounded state.

``scrub_pii`` is the redaction pass training pipelines run before
tokenization: email / phone / IPv4 patterns replaced by typed tags, all
JVM-side ``regexp_replace`` (patterns chosen to parse identically under
Java regex and RE2/DuckDB for oracle parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() .-]{6,}[0-9]"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def _tokens(text_col):
    return F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: w != ""
    )


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    max_mean_word_len: float = 12.0,
    min_distinct_ratio: float = 0.2,
    max_top_bigram_frac: float = 0.5,
) -> DataFrame:
    """Per-document repetition metrics + the pass/fail verdict.

    Output: ``(id, word_count, mean_word_len, distinct_ratio,
    top_bigram_frac, quality_pass)``. The bigram mode is computed inside
    the row (sort the bigram array, fold for the longest equal run): work
    per document is bounded by its own word count, with no shuffle, no
    per-document Python loop and no collected vocabulary.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("w")
    )
    # Per-doc bigram MODE computed inside the row (r7): sort the bigram
    # array and fold for the longest equal run — the same integer the old
    # explode -> groupBy(id, gram) -> max-per-doc pipeline produced, but
    # with ZERO exchanges (the relational shape shuffled every (doc,
    # bigram) pair twice and joined back; this is one narrow projection,
    # guide §2.4). Work per row is O(n log n) in the doc's word count —
    # bounded by the same array the row already holds. Bigrams are
    # "word word", never empty, so the "" init sentinel cannot match the
    # first element.
    bigrams = F.zip_with(
        F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
        F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    mode_fold = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    base = toks.select(
        "id",
        F.size("w").alias("word_count"),
        F.size(F.array_distinct("w")).alias("distinct_words"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("char_sum"),
        mode_fold.alias("top_bigram_count"),
    )
    # word_count == 0 (empty/whitespace docs — exactly what the filter
    # exists to reject) must yield a failing verdict, not a
    # DIVIDE_BY_ZERO throw under Spark 4 ANSI mode
    nz = F.greatest(F.col("word_count"), F.lit(1))
    j = base.select(
        "id",
        F.col("word_count").cast("long").alias("word_count"),
        (F.col("char_sum") / nz).alias("mean_word_len"),
        (F.col("distinct_words").cast("double") / nz).alias(
            "distinct_ratio"
        ),
        (
            F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("double")
            / F.greatest(F.col("word_count") - 1, F.lit(1))
        ).alias("top_bigram_frac"),
    )
    verdict = (
        (F.col("word_count") >= min_words)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
    )
    return j.withColumn("quality_pass", verdict)


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
) -> DataFrame:
    """Email/phone/IPv4 redaction as chained ``regexp_replace`` — pure
    whole-stage-codegen column work, plus per-kind hit counts (the
    curation report wants redaction statistics, and counting BEFORE
    replacing costs one extra regexp each, not a second pass).

    Order matters and is fixed: emails first (their local parts can look
    like phone fragments), then IPv4 (digit runs with dots), then phones.
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ip = F.size(
        F.regexp_extract_all(after_email, F.lit(IPV4_RE), F.lit(0))
    )
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    n_phone = F.size(
        F.regexp_extract_all(after_ip, F.lit(PHONE_RE), F.lit(0))
    )
    after_phone = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return docs.withColumns(
        {
            out_col: after_phone,
            "n_emails": n_email.cast("long"),
            "n_ips": n_ip.cast("long"),
            "n_phones": n_phone.cast("long"),
        }
    )


def deterministic_sample(
    df: DataFrame, n: int, *key_cols: str
) -> DataFrame:
    """T3 (reference logs a random sample of predictions): a seedless
    DETERMINISTIC pseudo-random sample — order by ``xxhash64`` of the key
    columns and take n. Unlike ``df.sample`` (partition-layout dependent),
    the same input always yields the same sample, so logged samples are
    reproducible across runs and resumes; the TakeOrdered never
    materializes more than n rows on the driver.

    The key columns are appended as tiebreakers so the ordering is total
    whenever they identify rows; with duplicate keys the duplicate-key
    ROWS themselves may carry different payloads and the cut between
    them at the n boundary is layout-dependent — pass key columns that
    uniquely identify rows (the caller owns that contract).
    """
    assert key_cols, "deterministic_sample needs at least one key column"
    keys = [F.col(c) for c in key_cols]
    return df.orderBy(F.xxhash64(*keys), *keys).limit(n)
