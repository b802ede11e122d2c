"""End-to-end corpus curation audit: the composition query that chains
every cleaning stage a training-data pipeline runs — normalization
rules, exact dedup, benchmark decontamination, quality cut, stratified
sampling — into one per-document disposition.

Reference parity note: the reference project has no curation surface
(SURVEY §2b extension); the stage semantics are the public C4 / Gopher
/ GPT-3-decontamination procedures, each already implemented and
oracle-checked individually in operators/text.py — this module proves
they COMPOSE, with first-fail precedence, in a bounded number of
shuffles.

Scale shape (what survives a 100 TB corpus):
- one corpus scan computes every per-row flag (clean rules, quality
  score, bench/sample buckets) as pure projections;
- exact-dedup survivorship is a min() window over the text partition —
  ONE shuffle, no self-join;
- the per-language quality median rides the two-phase histogram
  selection (operators/selection.py): per-(lang, value-bucket) counts,
  an array-fold prefix sum, and a resolve touching ~1/1024 of one
  language — never a per-language sort task; the flag base is persisted
  so the median pass and the final disposition share one computation;
- decontamination is the only doc_id join: its left side is the
  aggregated shingle-overlap relation (one row per doc), its right the
  flagged base — both hash-partition on doc_id;
- nothing is collected, persisted, or crossed.

Stage flags are evaluated INDEPENDENTLY on the full corpus and the
precedence applied at the end — the auditable formulation (every doc
gets graded by every rule; per-stage drop rates are recoverable by
relaxing prefixes) rather than the sequential-filter formulation whose
later-stage statistics depend on earlier drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import texthash as TH
from flink_start_spark.operators import selection as SEL
from flink_start_spark.operators import text as TX

#: disposition precedence, first failing stage wins.
STATUSES = (
    "benchmark",
    "failed_clean",
    "duplicate",
    "contaminated",
    "low_quality",
    "not_sampled",
    "kept",
)


def curation_audit(
    df: DataFrame,
    rates: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    bench_pct: int = 5,
    default_pct: int = 50,
) -> DataFrame:
    """Per-document curation disposition over the full stage chain.

    Returns (doc_id, lang, status) where status is the FIRST failing
    stage in :data:`STATUSES` order, or 'kept'.
    """
    text = F.col(text_col)
    # -- one-scan per-row flags ----------------------------------------
    # normalization shared with clean_text (text.py::clean_words_expr)
    # so the audit's failed_clean flag can never desync from the stage
    clean_words = TX.clean_words_expr(text)
    rate = F.lit(default_pct)
    for stratum, pct in rates.items():
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    surv = F.min(id_col).over(Window.partitionBy(text_col))
    base = C.track(
        df.select(
            id_col,
            stratum_col,
            (TH.md5_bucket(F.col(id_col), salt="bench|") < bench_pct).alias(
                "is_bench"
            ),
            (TH.md5_bucket(F.col(id_col), salt="sample|") < rate).alias("sampled"),
            TX.clean_keep_expr(clean_words).alias("clean_kept"),
            F.round(TX.quality_expr(TH.words(text)), 6).alias("quality_score"),
            (F.col(id_col) != surv).alias("is_dup"),
        )
    )
    # -- per-language exact lower median: two-phase histogram selection
    # (operators/selection.py) — no per-language sort task; the tiny
    # median table broadcasts back onto the persisted flag base, which
    # the selection scans directly (it is already cached).
    # medians is consumed exactly once (broadcast join below): no
    # cache/checkpoint — an eager checkpoint A/B'd ~a job slower at
    # sf0.1 for lineage this short.
    medians = SEL.exact_rank_value(
        base, [stratum_col], "quality_score", out_col="median_quality"
    ).select(stratum_col, "median_quality")
    flagged = base.join(F.broadcast(medians), stratum_col)
    # -- decontamination: the one doc_id join (aggregated left side) ----
    decon = TX.decontaminate(
        df, text_col, id_col, bench_pct=bench_pct
    ).select(id_col, "contaminated")
    audited = flagged.join(decon, id_col, "left")
    status = (
        F.when(F.col("is_bench"), F.lit("benchmark"))
        .when(~F.col("clean_kept"), F.lit("failed_clean"))
        .when(F.col("is_dup"), F.lit("duplicate"))
        .when(F.coalesce(F.col("contaminated"), F.lit(False)), F.lit("contaminated"))
        .when(F.col("quality_score") < F.col("median_quality"), F.lit("low_quality"))
        .when(~F.col("sampled"), F.lit("not_sampled"))
        .otherwise(F.lit("kept"))
    )
    return audited.select(id_col, stratum_col, status.alias("status"))
