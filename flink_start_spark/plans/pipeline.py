"""Corpus-pipeline queries, round 2: repetition filters, benchmark
decontamination, TF-IDF profiling, stratified sampling, quantile
filtering, PII scan — the remaining operations a 100 TB training-data
pipeline runs between raw crawl and tokenizer (on top of the dedup /
quality / packing surface in plans/extensions.py).

Every oracle recomputes the identical engine-portable primitives
(md5 buckets as hex-nibble arithmetic, word shingles as list
comprehensions, regexes in the Java∩RE2 dialect) — see
functions/texthash.py for the portability argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import lsh_scale as _LS
from flink_start_spark.operators import curation as CU
from flink_start_spark.operators import text as TX
from flink_start_spark.plans.catalog import _register
from flink_start_spark.sources.catalog import fan_out, load_table


def _bucket_sql(expr: str, mod: int | None = 100, width: int = 4) -> str:
    """DuckDB twin of texthash.md5_bucket: first ``width`` hex nibbles
    of the md5 as a base-16 integer, mod ``mod`` (same construction as
    the train_val_split oracle). ``mod=None`` returns the raw integer
    (the 8-nibble form is the triplet miner's 2^32 bucket-address
    space); this is the ONE strpos-chain builder — every md5-bucket
    oracle derives from it."""
    nib = "strpos('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1"
    terms = " + ".join(
        f"({nib.format(e=expr, i=i + 1)}) * {16 ** (width - 1 - i)}"
        for i in range(width)
    )
    return f"({terms})" if mod is None else f"(({terms}) % {mod})"


#: Decontamination parameters, single-sourced for BOTH the
#: decontamination_flags stage oracle and the curation_audit
#: composition oracle (and mirrored by operators/text.py::decontaminate
#: defaults): benchmark carve-out percent, shingle width, and the
#: contamination flag threshold. Tweak here, not in an oracle body.
_BENCH_PCT = 5
_DECON_NGRAM = 5
_DECON_THRESHOLD = 0.2


#: 3-word shingle CTE over the documents table — DuckDB twin of
#: texthash.shingles (defined here, the import root of the plans
#: modules, so both extensions.py and this module can share it without
#: a cycle; extensions.py re-exports it under the same name).
_SHINGLE_CTE = """
docs AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id,
  CASE WHEN len(w) >= 3
       THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
       ELSE [array_to_string(w, ' ')] END AS shingles
  FROM docs),
shd AS (SELECT doc_id, list_distinct(shingles) AS sh, shingles FROM sh)
"""

#: MinHash LSH pipeline as reusable CTE text (shared by the near-dup
#: query in extensions.py and the contrastive-triplet miner below):
#: shingles → corpus-scaled salted minhashes/bands (lsh_scale.py's
#: count(*)-driven ladder: 16 hashes / 4 bands below ~1.2e7 docs,
#: byte-identical to the historical literal form there) → candidate
#: pairs → Jaccard-confirmed positives at threshold 0.5.
_MINHASH_POS_CTE = f"""{_SHINGLE_CTE},
    {_LS.minhash_band_ctes("SELECT count(*) FROM documents")},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    pos AS (SELECT id_a, id_b,
              round(len(list_intersect(x.sh, y.sh))::DOUBLE /
                    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE,
                    6) AS jaccard
            FROM cand JOIN shd x ON x.doc_id = id_a JOIN shd y ON y.doc_id = id_b
            WHERE jaccard >= 0.5)"""


#: word-shingle list comprehension (n consecutive words, space-joined;
#: whole text when shorter) — DuckDB twin of texthash.shingles.
def _shingle_sql(n: int) -> str:
    joined = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(n))
    return (
        f"CASE WHEN len(w) >= {n} THEN [{joined} FOR i IN range(1, len(w) - {n - 2})] "
        "ELSE [array_to_string(w, ' ')] END"
    )


@_register(
    "repetition_stats",
    f"""
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    b AS (SELECT doc_id, w, {_shingle_sql(2)} AS bg FROM d)
    SELECT doc_id,
           len(w)::BIGINT AS n_tokens,
           round((len(w) - len(list_distinct(w)))::DOUBLE / greatest(len(w), 1), 6)
             AS dup_token_frac,
           round(list_max([len(list_filter(w, x -> x = t)) FOR t IN list_distinct(w)])::DOUBLE
                 / greatest(len(w), 1), 6) AS top_token_frac,
           round(list_max([len(list_filter(bg, x -> x = t)) FOR t IN list_distinct(bg)])::DOUBLE
                 / greatest(len(bg), 1), 6) AS top_bigram_frac
    FROM b
    """,
    description=(
        "Gopher-style repetition filters (Rae '21 §A1.1) reduced to the "
        "available columns: duplicate-token fraction, top-token fraction, "
        "top-bigram fraction. Pure per-row array expressions — no shuffle; "
        "the arrays are materialized before the mode-count lambdas to "
        "avoid the measured re-evaluation trap (texthash.shingles doc)."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.repetition_stats(docs)


@_register(
    "decontamination_flags",
    f"""
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w,
                      {_bucket_sql("'bench|' || doc_id::VARCHAR")} AS bucket
               FROM documents),
    s AS (SELECT doc_id, bucket, {_shingle_sql(_DECON_NGRAM)} AS sh FROM d),
    sd AS (SELECT doc_id, bucket, unnest(list_distinct(sh)) AS s FROM s),
    bench AS (SELECT DISTINCT s FROM sd WHERE bucket < {_BENCH_PCT})
    SELECT sd.doc_id,
           count(*) AS n_shingles,
           count(bench.s) AS n_contaminated,
           round(count(bench.s)::DOUBLE / count(*)::DOUBLE, 6) AS contamination_frac,
           count(bench.s)::DOUBLE / count(*)::DOUBLE >= {_DECON_THRESHOLD} AS contaminated
    FROM sd LEFT JOIN bench ON sd.s = bench.s
    WHERE sd.bucket >= {_BENCH_PCT}
    GROUP BY sd.doc_id
    """,
    description=(
        "Benchmark decontamination (GPT-3/Llama eval-overlap procedure): "
        "flag training docs whose distinct 5-word shingles overlap the "
        "held-out benchmark set (deterministic md5 carve-out, salt "
        "'bench|'). The benchmark shingle set is broadcast (eval suites "
        "are small by contract), so the corpus side is one scan, a local "
        "hash join, and a doc_id groupBy — no corpus-sized shuffle."
    ),
    tags=("text", "extension", "pipeline", "dedup"),
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.decontaminate(docs)


@_register(
    "tfidf_top_terms",
    """
    WITH d AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents),
    t AS (SELECT lang, doc_id, unnest(w) AS term FROM d),
    stats AS (SELECT lang, term, count(*) AS tf, count(DISTINCT doc_id) AS df
              FROM t GROUP BY 1, 2),
    n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    scored AS (SELECT stats.lang, term, tf, df,
                      round(tf * ln(1.0 + n_docs::DOUBLE / df::DOUBLE), 6) AS tfidf
               FROM stats JOIN n ON stats.lang = n.lang),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
    SELECT lang, term, tf, df, tfidf, rnk FROM r WHERE rnk <= 10
    """,
    description=(
        "TF-IDF corpus profiling: top-10 terms per language by "
        "tf * ln(1 + N/df). Explode collapses map-side before the "
        "(lang, term) shuffle; doc totals broadcast; the rank window runs "
        "on the aggregated term relation, not the corpus. Scores rounded "
        "before ranking + term tie-break = deterministic top-k."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.tfidf_top_terms(docs, k=10)


#: per-language sampling percentages: downsample the dominant language,
#: keep the rarest whole (corpus rebalancing).
_SAMPLE_RATES = {"en": 25, "es": 50, "de": 50, "fr": 50, "zh": 100}


@_register(
    "stratified_sample",
    f"""
    WITH b AS (
      SELECT doc_id, lang, source,
             {_bucket_sql("'sample|' || doc_id::VARCHAR")} AS bucket,
             CASE lang WHEN 'en' THEN 25 WHEN 'es' THEN 50 WHEN 'de' THEN 50
                       WHEN 'fr' THEN 50 WHEN 'zh' THEN 100 ELSE 50 END AS rate
      FROM documents)
    SELECT doc_id, lang, source, round(100.0 / rate, 6) AS weight
    FROM b WHERE bucket < rate
    """,
    description=(
        "Deterministic stratified sampling: per-language target rates "
        "via salted md5 buckets (no RNG, reproducible on any engine / "
        "partitioning), with Horvitz-Thompson weights (100/rate) emitted "
        "so downstream aggregates can reweight to the population. Pure "
        "filter projection — zero shuffle at any scale."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.stratified_sample(docs, _SAMPLE_RATES).select(
        "doc_id", "lang", "source", "weight"
    )


def _quality_expr_sql(w: str = "w") -> str:
    """The 0.4/0.4/0.2 quality-score expression over a word-list
    column — the ONE copy of the formula. ``_QUALITY_SQL`` and the
    curation_audit composition oracle both derive from it, so a weight
    tweak cannot silently desync the stage oracle from the
    composition."""
    return f"""round(0.4 * least(1.0, len({w})::DOUBLE / 64.0)
                 + 0.4 * (len(list_distinct({w}))::DOUBLE / greatest(len({w}), 1))
                 + 0.2 * (1.0 - abs(len(list_filter({w},
                       x -> x IN ('the','a','an','of','and','or','to','in')))::DOUBLE
                       / greatest(len({w}), 1) - 0.4)),
                 6)"""


_QUALITY_SQL = f"""
    q AS (
      SELECT doc_id, lang,
             {_quality_expr_sql("w")} AS quality_score
      FROM (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents))
"""


@_register(
    "quality_median_filter",
    f"""
    WITH {_QUALITY_SQL},
    r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY quality_score, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS cnt
          FROM q),
    m AS (SELECT lang, quality_score AS median_quality
          FROM r WHERE rn = (cnt + 1) // 2)
    SELECT q.doc_id, q.lang, q.quality_score, m.median_quality,
           q.quality_score >= m.median_quality AS kept
    FROM q JOIN m ON q.lang = m.lang
    """,
    description=(
        "Per-language exact-median quality cut: keep docs at or above "
        "their language's lower median quality score — the "
        "distribution-relative filter that survives per-language score "
        "shifts. Exact rank median (reproducible) instead of an "
        "engine-specific percentile sketch; the 5-row median table "
        "broadcasts back onto the stats relation."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_quality_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.quality_median_filter(docs)


#: deterministic PII injection — the corpus is PII-free (verified), so
#: the scan is exercised on synthetic spans derived from doc_id; the
#: injection is part of the query contract and mirrored in the oracle.
def _inject_pii(doc_id, text):  # Column helpers
    return F.concat(
        text,
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example.com from 10.0."),
        (doc_id % 256).cast("string"),
        F.lit("."),
        ((doc_id * 7) % 256).cast("string"),
        F.lit(" ref "),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
    )


_INJECT_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.' "
    "|| (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR "
    "|| ' ref ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' "
    "|| lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' "
    "|| lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)

_PII_EMAIL, _PII_IPV4, _PII_ID = (p for _, p in TX.PII_PATTERNS)


@_register(
    "pii_scan",
    f"""
    WITH injected AS (SELECT doc_id, {_INJECT_SQL} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_EMAIL}'))::BIGINT AS n_email,
           len(regexp_extract_all(t, '{_PII_IPV4}'))::BIGINT AS n_ipv4,
           len(regexp_extract_all(t, '{_PII_ID}'))::BIGINT AS n_id_number,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IPV4>', 'g'),
               '{_PII_ID}', '<ID_NUMBER>', 'g')) AS redacted_md5
    FROM injected
    """,
    description=(
        "PII scan + redaction: per-doc match counts for email / IPv4 / "
        "SSN-shaped ids and the md5 of the fully redacted text (verifies "
        "regexp_replace byte-for-byte across engines). The corpus itself "
        "is PII-free, so deterministic spans derived from doc_id are "
        "injected first — the scan runs on real matches, not vacuous "
        "zeros. Patterns live in the Java∩RE2 dialect (no lookaround); "
        "DuckDB replace needs the explicit 'g' flag, Spark is global by "
        "default. Pure codegen projections, zero shuffle."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    injected = docs.select(
        "doc_id", _inject_pii(F.col("doc_id"), F.col("text")).alias("text")
    )
    out = TX.pii_stats(injected)
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_id_number",
        F.md5(F.col("redacted_text")).alias("redacted_md5"),
    )


#: CASE expression for the per-language sample rates (oracle twin of
#: _SAMPLE_RATES as applied by stratified_sample / curation_audit).
_RATE_CASE = (
    "CASE lang WHEN 'en' THEN 25 WHEN 'es' THEN 50 WHEN 'de' THEN 50 "
    "WHEN 'fr' THEN 50 WHEN 'zh' THEN 100 ELSE 50 END"
)


@_register(
    "curation_audit",
    f"""
    WITH nb AS (
      SELECT doc_id, lang, text,
             {_bucket_sql("'bench|' || doc_id::VARCHAR")} AS bench_bucket,
             {_bucket_sql("'sample|' || doc_id::VARCHAR")} AS sample_bucket,
             string_split(trim(text), ' ') AS w,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS cw
      FROM documents),
    flags AS (
      SELECT doc_id, lang, text,
             bench_bucket < {_BENCH_PCT} AS is_bench,
             sample_bucket < ({_RATE_CASE}) AS sampled,
             (len(cw) >= 16
              AND list_sum(list_transform(cw, x -> len(x)))::DOUBLE / greatest(len(cw), 1) >= 2.0
              AND list_sum(list_transform(cw, x -> len(x)))::DOUBLE / greatest(len(cw), 1) <= 12.0
              AND len(list_distinct(cw))::DOUBLE / greatest(len(cw), 1) > 0.3) AS clean_kept,
             {_quality_expr_sql("w")} AS quality_score,
             doc_id != min(doc_id) OVER (PARTITION BY text) AS is_dup
      FROM nb),
    med AS (
      SELECT lang, quality_score AS median_quality
      FROM (SELECT lang, quality_score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY quality_score, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS cnt
            FROM flags)
      WHERE rn = (cnt + 1) // 2),
    sh AS (SELECT doc_id, bench_bucket, {_shingle_sql(_DECON_NGRAM)} AS sh FROM nb),
    sd AS (SELECT doc_id, bench_bucket, unnest(list_distinct(sh)) AS s FROM sh),
    bench AS (SELECT DISTINCT s FROM sd WHERE bench_bucket < {_BENCH_PCT}),
    decon AS (
      SELECT sd.doc_id,
             count(bench.s)::DOUBLE / count(*)::DOUBLE >= {_DECON_THRESHOLD} AS contaminated
      FROM sd LEFT JOIN bench ON sd.s = bench.s
      WHERE sd.bench_bucket >= {_BENCH_PCT}
      GROUP BY sd.doc_id)
    SELECT f.doc_id, f.lang,
           CASE WHEN f.is_bench THEN 'benchmark'
                WHEN NOT f.clean_kept THEN 'failed_clean'
                WHEN f.is_dup THEN 'duplicate'
                WHEN coalesce(d.contaminated, FALSE) THEN 'contaminated'
                WHEN f.quality_score < m.median_quality THEN 'low_quality'
                WHEN NOT f.sampled THEN 'not_sampled'
                ELSE 'kept' END AS status
    FROM flags f
    JOIN med m ON f.lang = m.lang
    LEFT JOIN decon d ON f.doc_id = d.doc_id
    """,
    description=(
        "End-to-end curation audit: per-document disposition through the "
        "full stage chain (benchmark carve-out, C4/Gopher clean rules, "
        "exact dedup, decontamination, per-language median quality cut, "
        "stratified sampling) with first-fail precedence — the "
        "composition proof for the pipeline story. Flags are evaluated "
        "independently on one corpus scan (auditable formulation); the "
        "only doc_id join is the aggregated decontamination relation. "
        "Oracle composes the five already-green stage oracles."
    ),
    tags=("text", "extension", "pipeline", "curation"),
)
def q_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return CU.curation_audit(docs, _SAMPLE_RATES)


# ---------------------------------------------------------------------
# Round 3: novelty profiling, weighted reservoir sampling, Z-order layout
# ---------------------------------------------------------------------

@_register(
    "ngram_novelty",
    f"""
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    s AS (SELECT doc_id, list_distinct({_shingle_sql(3)}) AS sh FROM d),
    e AS (SELECT doc_id, unnest(sh) AS g FROM s),
    f AS (SELECT g, count(*) AS df FROM e GROUP BY g)
    SELECT e.doc_id,
           count(*)::BIGINT AS n_shingles,
           round(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
             AS novel_frac
    FROM e JOIN f USING (g)
    GROUP BY e.doc_id
    """,
    description=(
        "Per-document n-gram novelty: share of a doc's distinct 3-word "
        "shingles with corpus document-frequency 1. Low novelty flags "
        "boilerplate/templates, high novelty + low quality flags "
        "gibberish. No self-join anywhere — hot shingles only add "
        "counting rows (vs the pairing operators' quadratic risk), so "
        "no df-cut is needed at 100 TB."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.ngram_novelty(docs, "text", "doc_id", n=3)


# u ~ U(0,1) from the shared strpos-chain builder (12 nibbles = 48
# bits), never a hand-rolled copy of it
_WRS_U = (
    f"({_bucket_sql(chr(39) + 'wrs|' + chr(39) + ' || doc_id::VARCHAR', mod=None, width=12)}"
    f" / {float(16 ** 12)})"
)


@_register(
    "weighted_reservoir_sample",
    f"""
    SELECT doc_id, n_chars, round(pow({_WRS_U}, 1.0 / n_chars), 6) AS score
    FROM documents
    WHERE n_chars > 0
    ORDER BY pow({_WRS_U}, 1.0 / n_chars) DESC, doc_id
    LIMIT 100
    """,
    description=(
        "Length-weighted sampling without replacement (Efraimidis-"
        "Spirakis A-Res): score = u^(1/weight) with u derived from a "
        "salted md5, top-k scores = the weighted sample. Deterministic "
        "(no RNG) so reproducible across engines/partitionings; Spark "
        "executes the top-k as TakeOrderedAndProject (per-partition "
        "heaps, no total sort, no full shuffle)."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.weighted_reservoir_sample(docs, "n_chars", k=100)


def _zorder_sql_terms(xe: str, ye: str, bits: int = 16) -> str:
    # each term fully parenthesized (SQL '+' binds tighter than '<<')
    # and the bit cast to BIGINT before shifting (INT32 1<<31 overflows)
    terms = []
    for j in range(bits):
        terms.append(f"(((({xe} % 65536) >> {j}) & 1)::BIGINT << {2 * j + 1})")
        terms.append(f"(((({ye} % 65536) >> {j}) & 1)::BIGINT << {2 * j})")
    return " + ".join(terms)


@_register(
    "zorder_locality_stats",
    f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey,
             ({_zorder_sql_terms('l_partkey', 'l_suppkey')})::BIGINT AS zkey
      FROM lineitem)
    SELECT (zkey >> 12)::BIGINT AS z_bucket,
           count(*)::BIGINT AS n_rows,
           min(l_partkey)::BIGINT AS min_part, max(l_partkey)::BIGINT AS max_part,
           min(l_suppkey)::BIGINT AS min_supp, max(l_suppkey)::BIGINT AS max_supp
    FROM z GROUP BY 1
    """,
    description=(
        "Z-order (Morton) clustering key over (l_partkey, l_suppkey) "
        "with per-z-range min/max stats — the data-skipping layout "
        "mechanic behind OPTIMIZE ZORDER: each z-range is a small "
        "rectangle in both dimensions at once, so parquet row-group "
        "min/max prunes on either column. Key construction is pure "
        "codegen'd shift/mask arithmetic (operators/layout.py), "
        "bit-identical in the oracle; tests/test_layout.py proves the "
        "skipping empirically on written files."
    ),
    tags=("layout", "extension"),
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import layout as L

    li = load_table(spark, "lineitem", sf_dir)
    z = li.select(
        "l_partkey",
        "l_suppkey",
        L.zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )
    return z.groupBy(F.shiftright("zkey", 12).cast("long").alias("z_bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").cast("long").alias("min_part"),
        F.max("l_partkey").cast("long").alias("max_part"),
        F.min("l_suppkey").cast("long").alias("min_supp"),
        F.max("l_suppkey").cast("long").alias("max_supp"),
    )


@_register(
    "embedding_quantization_audit",
    """
    WITH x AS (
      SELECT vec_id, [e::DOUBLE FOR e IN embedding] AS xv FROM embeddings),
    s AS (
      SELECT vec_id, xv, list_max([abs(v) FOR v IN xv]) AS scale FROM x),
    q AS (
      SELECT vec_id, xv, scale,
             CASE WHEN scale = 0 THEN [0::BIGINT FOR v IN xv]
                  ELSE [floor(v / scale * 127)::BIGINT FOR v IN xv] END AS qv
      FROM s),
    d AS (
      SELECT vec_id, xv, scale, qv,
             [qv[i] * scale / 127 FOR i IN range(1, len(qv) + 1)] AS dv
      FROM q)
    SELECT vec_id,
           round(scale, 6) AS scale,
           list_sum(qv)::BIGINT AS q_sum,
           list_sum([abs(v) FOR v IN qv])::BIGINT AS q_l1,
           round(list_max([abs(xv[i] - dv[i]) FOR i IN range(1, len(xv) + 1)]), 6)
             AS max_abs_err,
           CASE WHEN scale = 0 THEN 1.0 ELSE
             round(list_sum([xv[i] * dv[i] FOR i IN range(1, len(xv) + 1)]) /
                   (sqrt(list_sum([xv[i] * xv[i] FOR i IN range(1, len(xv) + 1)])) *
                    sqrt(list_sum([dv[i] * dv[i] FOR i IN range(1, len(dv) + 1)]))),
                   6) END AS cos_orig_deq
    FROM d
    """,
    description=(
        "Symmetric int8 quantization audit over the embedding store — "
        "the 4x storage/bandwidth lever at 100 TB. Per-vector max-abs "
        "scale, floor-based codes (floor, not round: half-even vs "
        "half-away is a cross-engine trap), integer code checksums "
        "(sum, L1) pinning every code exactly, plus max dequantization "
        "error and original-vs-dequantized cosine. Pure per-row array "
        "projections: zero shuffle at any scale."
    ),
    tags=("similarity", "extension", "pipeline"),
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    return S.quantize_int8(emb, "embedding", "vec_id")


@_register(
    "passage_dedup",
    """
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    c AS (SELECT doc_id,
            [struct_pack(pos := i,
                         passage := array_to_string(w[(i*20+1):((i+1)*20)], ' '))
             FOR i IN range(0, greatest(cast(ceil(len(w)/20.0) AS BIGINT), 1))] AS cl
          FROM d),
    e AS (SELECT doc_id, unnest(cl, recursive := true) FROM c),
    h AS (SELECT doc_id, pos, passage, md5(passage) AS ph FROM e),
    f AS (SELECT ph, min(struct_pack(doc_id := doc_id, pos := pos)) AS fst
          FROM h GROUP BY ph),
    k AS (SELECT h.doc_id, h.pos, h.passage,
                 (h.doc_id = f.fst.doc_id AND h.pos = f.fst.pos) AS kept
          FROM h JOIN f USING (ph))
    SELECT doc_id,
           count(*)::BIGINT AS n_passages,
           count_if(kept)::BIGINT AS n_kept,
           round(count_if(kept) / count(*)::DOUBLE, 6) AS kept_frac,
           md5(coalesce(string_agg(CASE WHEN kept THEN passage END, ' ' ORDER BY pos), ''))
             AS dedup_md5
    FROM k GROUP BY doc_id
    """,
    description=(
        "Passage-level exact dedup (CCNet/RefinedWeb paragraph stage): "
        "split every document into 20-word passages, keep each distinct "
        "passage only at its global first occurrence (min (doc_id, pos)), "
        "reassemble the trimmed documents. Map-side partial min on the "
        "passage hash collapses boilerplate hot keys before the "
        "exchange; dedup_md5 pins the reassembled text byte-exactly."
    ),
    tags=("text", "extension", "pipeline", "dedup"),
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import dedup as D

    docs = fan_out(load_table(spark, "documents", sf_dir))
    return D.passage_dedup(docs, "text", "doc_id", passage_words=20)


@_register(
    "repeated_ngram_flags",
    f"""
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    s AS (SELECT doc_id, unnest({_shingle_sql(10)}) AS g FROM d),
    dg AS (SELECT doc_id, md5(g) AS gh, count(*) AS dc FROM s GROUP BY 1, 2),
    t AS (SELECT gh, sum(dc) AS c FROM dg GROUP BY gh)
    SELECT dg.doc_id,
           sum(dc)::BIGINT AS n_grams,
           sum(CASE WHEN c >= 2 THEN dc ELSE 0 END)::BIGINT AS n_repeated,
           round(sum(CASE WHEN c >= 2 THEN dc ELSE 0 END)::DOUBLE
                 / sum(dc), 6) AS repeated_frac,
           max(CASE WHEN c >= 2 THEN 1 ELSE 0 END) = 1 AS flagged
    FROM dg JOIN t USING (gh) GROUP BY dg.doc_id
    """,
    description=(
        "Repeated-substring dedup signal (Lee '21 ExactSubstr, the "
        "fixed-n distributable relaxation - any repeat of length >= n "
        "contains a repeated n-gram): per document, the share of its "
        "OVERLAPPING 10-word grams whose corpus-wide occurrence count "
        "(within-doc repeats included) is >= 2, plus a flag. The "
        "sliding-window complement to passage_dedup's non-overlapping "
        "chunks - boundary-straddling repeats are invisible there and "
        "caught here. One (doc, gram) groupBy with map-side collapse, "
        "per-gram totals derived from that same relation (co-"
        "partitioned confirm join, bounded by docs-containing), one "
        "doc groupBy; no self-join, no gram-partition window."
    ),
    tags=("text", "extension", "pipeline", "dedup"),
)
def q_repeated_ngram_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import dedup as D

    docs = fan_out(load_table(spark, "documents", sf_dir))
    return D.repeated_ngram_flags(docs, "text", "doc_id", n=10, min_count=2)


@_register(
    "source_mixture_weights",
    """
    WITH t AS (
      SELECT source,
             list_sum(list_transform(string_split(trim(text), ' '),
                                     x -> ceil(len(x) / 4.0)::INT)) AS toks
      FROM documents),
    per AS (SELECT source, count(*) AS n_docs, sum(toks)::BIGINT AS n_tokens
            FROM t GROUP BY source),
    w AS (SELECT *, floor(sqrt(n_tokens::DOUBLE) * 1048576)::BIGINT AS wq
          FROM per),
    tot AS (SELECT sum(n_tokens)::BIGINT AS tt, sum(wq)::BIGINT AS tw FROM w)
    SELECT source, n_docs::BIGINT AS n_docs, n_tokens,
           round(n_tokens::DOUBLE / tt, 6) AS token_share,
           round(wq::DOUBLE / tw, 6) AS sample_prop_sqrt
    FROM w CROSS JOIN tot
    """,
    description=(
        "Training-mixture reweighting (the multi-source domain-"
        "proportions knob): per-source doc/token counts, raw token "
        "share, and the alpha=0.5 temperature-scaled sampling "
        "proportion sqrt(n_i)/sum(sqrt(n_j)) that upweights small "
        "sources. sqrt is IEEE correctly-rounded (engine-identical, "
        "unlike exp/ln/pow) and the normalizer sums INTEGER-quantized "
        "floor(sqrt(n)*2^20) weights - commutative, so the result is "
        "partitioning-independent. One scan, one tiny groupBy, 1-row "
        "broadcast total."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.source_mixture_weights(docs, "text", "source")


@_register(
    "cross_source_overlap",
    f"""
    WITH d AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
    g AS (SELECT source, unnest({_shingle_sql(5)}) AS g FROM d),
    s AS (SELECT DISTINCT source AS s, md5(g) AS gh FROM g),
    tot AS (SELECT s, count(*) AS n FROM s GROUP BY s),
    pg AS (SELECT gh, list_sort(list(DISTINCT s)) AS ss FROM s GROUP BY gh),
    pp AS (SELECT gh, flatten([[struct_pack(source_a := ss[i], source_b := ss[j])
                                FOR j IN range(i + 1, len(ss) + 1)]
                               FOR i IN range(1, len(ss) + 1)]) AS ps
           FROM pg),
    pr AS (SELECT unnest(ps, recursive := true) FROM pp),
    sh AS (SELECT source_a, source_b, count(*) AS n_shared_grams
           FROM pr GROUP BY 1, 2)
    SELECT sh.source_a, sh.source_b, sh.n_shared_grams::BIGINT AS n_shared_grams,
           round(sh.n_shared_grams::DOUBLE / ta.n, 6) AS frac_of_a,
           round(sh.n_shared_grams::DOUBLE / tb.n, 6) AS frac_of_b
    FROM sh JOIN tot ta ON sh.source_a = ta.s
            JOIN tot tb ON sh.source_b = tb.s
    """,
    description=(
        "Cross-source contamination matrix: distinct shared 5-gram "
        "counts per source pair, normalized by each side's distinct-"
        "gram total - the audit that catches one source being a "
        "near-copy of another (mirrors, re-crawls) before both are "
        "sampled as independent. Distinct (source, gram) pairs "
        "map-side, one gram-keyed groupBy collecting the <=|sources| "
        "source set, ordered-pair explode bounded by |sources|^2, one "
        "pair groupBy - never a gram self-join."
    ),
    tags=("text", "extension", "pipeline", "dedup"),
)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.cross_source_overlap(docs, "text", "source", n=5)


@_register(
    "quality_classifier_score",
    f"""
    WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
               FROM documents),
    f AS (SELECT doc_id, {_bucket_sql("'feat|' || w", 1024)} AS h FROM t),
    s AS (SELECT doc_id,
                 ({_bucket_sql("'wt|' || h::VARCHAR", 17)}) - 8 AS wt
          FROM f)
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           sum(wt)::BIGINT AS logodds_q,
           round(sum(wt)::DOUBLE / count(*), 6) AS mean_logodds,
           sum(wt) >= 0 AS kept
    FROM s GROUP BY doc_id
    """,
    description=(
        "fasttext-style linear quality-classifier INFERENCE (the "
        "model-based 'does this look like reference text?' filter of "
        "LLaMA/CCNet pipelines) over md5-hashed unigram features. "
        "Weights are a deterministic md5-derived stand-in for trained "
        "parameters (multimodal-stub precedent; the distributable "
        "plumbing is the deliverable) - and being expression-derived, "
        "even the weight-table broadcast join disappears: scoring is "
        "ZERO-SHUFFLE pure map work, a fold over each row's word "
        "array (no explode, no groupBy - stateless-streaming "
        "compatible as-is). Integer weights in [-8,8] accumulate to an exact "
        "integer log-odds, engine-exact with no float summation."
    ),
    tags=("text", "extension", "pipeline", "classifier"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.quality_classifier_score(docs, "text", "doc_id", n_features=1024)


def _bpe_cte(n_merges: int) -> str:
    """Unrolled-CTE BPE training — the PageRank precedent (plans/cdc.py)
    applied to the tokenizer: bounded driver-controlled rounds become
    one CTE chain, giving the iterative operator a FULL hash oracle.

    Per round k: pair counts via ``unnest(range(1, len(syms)))`` +
    group-by, winner via the same (count DESC, left, right) total-order
    tie-break, then greedy-left merge application. The application
    trick: wrap every symbol as ``chr(1)||sym||chr(2)``, join, and
    ``replace()`` the wrapped pair with the wrapped merged symbol —
    SQL ``replace`` substitutes left-to-right and non-overlapping,
    which IS BPE's greedy rule ('aaaa' + (a,a) -> [aa, aa], 'aaa' ->
    [aa, a]); the per-symbol open/close markers stop prefix false
    matches ('a','b' never matches inside 'ab') and make consecutive
    merges independent. chr(1)/chr(2) cannot occur in symbols (the
    corpus contract's text is printable; the python mirror and Spark
    fold are marker-free and define semantics for arbitrary text).
    Empty words are dropped, mirroring operators/tokenize.py.
    """
    steps = []
    for k in range(1, n_merges + 1):
        p = f"v{k-1}"
        # v{k} uses LEFT JOIN ON TRUE, NOT a cross join: when the pair
        # vocabulary exhausts before round k, b{k} is empty and a cross
        # join would annihilate the vocab (cascading to a 0-row encode
        # while Spark's train loop stops and freezes it — the round-5
        # review catch). The left join keeps one NULL-merge row per
        # word and the CASE freezes syms, mirroring Spark's early stop;
        # b{k} empty implies pc{k} empty, so later rounds stay frozen
        # too and the merges union is the same learned prefix.
        steps.append(
            f"""pc{k} AS (
      SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS pair_count
      FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM {p})
      GROUP BY 1, 2),
    b{k} AS (SELECT l, r, pair_count FROM pc{k}
             ORDER BY pair_count DESC, l, r LIMIT 1),
    m{k} AS (SELECT {k}::INT AS step, l, r, l || r AS merged, pair_count
             FROM b{k}),
    v{k} AS (
      SELECT word, cnt,
             CASE WHEN w IS NULL THEN syms
                  ELSE string_split(substr(w, 2, length(w) - 2),
                                    chr(2) || chr(1)) END AS syms
      FROM (SELECT word, cnt, syms,
                   CASE WHEN b.l IS NULL THEN NULL
                        ELSE replace(chr(1) || array_to_string(syms, chr(2) || chr(1)) || chr(2),
                                     chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
                                     chr(1) || b.l || b.r || chr(2)) END AS w
            FROM {p} LEFT JOIN b{k} b ON true))"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH inst AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents),
    wc AS (SELECT word, count(*)::BIGINT AS cnt FROM inst
           WHERE word <> '' GROUP BY word),
    v0 AS (SELECT word, cnt,
                  list_concat(string_split(word, ''), ['</w>']) AS syms
           FROM wc),
    {chain}"""


def _bpe_merges_oracle(n_merges: int) -> str:
    union = " UNION ALL ".join(
        f'SELECT step, l AS "left", r AS "right", merged, pair_count FROM m{k}'
        for k in range(1, n_merges + 1)
    )
    return _bpe_cte(n_merges) + f"\n    SELECT * FROM ({union})"


def _bpe_token_stats_oracle(n_merges: int) -> str:
    # encode == the final training vocab state: applying merges 1..n in
    # order to a fresh word replays exactly the training application
    return (
        _bpe_cte(n_merges)
        + f""",
    pw AS (SELECT word, len(syms)::BIGINT AS n,
                  list_aggregate(
                    list_transform(syms, x -> length(x)), 'sum')::BIGINT AS chars
           FROM v{n_merges}),
    j AS (SELECT doc_id, n, chars FROM inst JOIN pw USING (word))
    SELECT doc_id, sum(n)::BIGINT AS n_bpe_tokens,
           round(sum(chars)::DOUBLE / sum(n), 6) AS mean_token_len
    FROM j GROUP BY doc_id"""
    )


@_register(
    "bpe_merges",
    _bpe_merges_oracle(8),
    description=(
        "BPE tokenizer induction (Sennrich '16): learn the first 8 "
        "character-level merges over the corpus - the merge table a "
        "training pipeline's tokenizer ships. ONE corpus scan (word "
        "counts, map-side collapse); every round then runs on the "
        "vocabulary relation: pair counts via explode+groupBy, winner "
        "via distributed TakeOrdered(1) with a total-order tie-break, "
        "1-row broadcast back, O(word-length) greedy fold to apply - "
        "rounds are localCheckpoint'ed like connected components, "
        "which both bounds re-execution and stops CollapseProject "
        "from inlining round r-1's fold into round r (an exponential "
        "expression blow-up, measured as an optimizer hang). No "
        "collect(); deterministic end to end. FULL hash oracle via "
        "unrolled CTEs (the PageRank precedent) with a greedy-left "
        "replace() merge; the pure-python mirror in tests/"
        "test_tokenize.py is a second independent check."
    ),
    tags=("text", "extension", "pipeline", "tokenizer", "iterative"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import tokenize as TK

    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TK.bpe_train(docs, "text", n_merges=8)


@_register(
    "bpe_token_stats",
    _bpe_token_stats_oracle(6),
    description=(
        "BPE tokenizer APPLICATION — the other half of the tokenizer "
        "lifecycle (bpe_merges learns the table; this encodes the "
        "corpus with it): per-document token count and mean token "
        "length under a 6-merge learned vocab, the compression curve a "
        "tokenizer evaluation reads. The 6 merges apply as 6 CHAINED "
        "single-merge folds fed by 1-row broadcasts (linear expression "
        "tree; nesting the fold would blow up the optimizer "
        "exponentially — measured, see operators/tokenize.py). Encoding "
        "is pure map work over the word relation + one groupBy(doc_id); "
        "training cost is bounded by the vocabulary relation."
    ),
    tags=("text", "extension", "pipeline", "tokenizer", "iterative"),
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import tokenize as TK

    docs = fan_out(load_table(spark, "documents", sf_dir))
    merges = TK.bpe_train(docs, "text", n_merges=6)
    # a small/degenerate corpus can exhaust its pair vocabulary before
    # 6 merges (the learned steps are then a prefix 1..n); encode with
    # the ACTUAL row count — bpe_encode's per-step crossJoin would
    # annihilate the relation on an empty step (docstring contract).
    # count() is a driver action over 6 one-row checkpoint leaves.
    n_learned = merges.count()
    return TK.bpe_encode(docs, merges, n_learned, "text", "doc_id")


@_register(
    "vocab_oov_stats",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
               FROM documents),
    cnt AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    v AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 20)
    SELECT t.doc_id,
           count(*)::BIGINT AS n_tokens,
           (count(*) - count(v.term))::BIGINT AS n_oov,
           round((count(*) - count(v.term)) / count(*)::DOUBLE, 6) AS oov_frac
    FROM t LEFT JOIN v ON t.term = v.term
    GROUP BY t.doc_id
    """,
    description=(
        "Tokenizer-prep vocabulary audit: top-20 global-frequency "
        "vocabulary (deterministic tie-break by term), then per-document "
        "out-of-vocabulary token fraction. Term counts collapse map-side; "
        "vocab selection is a distributed top-k (TakeOrderedAndProject); "
        "the vocab broadcasts back onto the single-scan token relation."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.vocab_oov_stats(docs, "text", "doc_id", vocab_size=20)


@_register(
    "dq_constraint_audit",
    """
    WITH a AS (
      SELECT count(*) AS n,
             count_if(NOT (l_quantity BETWEEN 1 AND 50)) AS qty,
             count_if(NOT (l_extendedprice > 0)) AS price,
             count_if(NOT (l_discount BETWEEN 0 AND 0.1)) AS disc,
             count_if(l_returnflag NOT IN ('R', 'A', 'N')) AS flag,
             count_if(l_shipdate IS NULL) AS shipnull
      FROM lineitem)
    SELECT rule, n_violations, round(n_violations / n::DOUBLE, 6) AS violation_rate
    FROM (
      SELECT 'quantity_in_1_50' AS rule, qty::BIGINT AS n_violations, n FROM a
      UNION ALL SELECT 'price_positive', price::BIGINT, n FROM a
      UNION ALL SELECT 'discount_in_0_0.1', disc::BIGINT, n FROM a
      UNION ALL SELECT 'returnflag_domain', flag::BIGINT, n FROM a
      UNION ALL SELECT 'shipdate_not_null', shipnull::BIGINT, n FROM a)
    """,
    description=(
        "Data-quality constraint audit (the Great-Expectations / Deequ "
        "shape): declared range/domain/null rules over lineitem, one "
        "scan, one global aggregate computing every rule's violation "
        "count simultaneously, unpivoted to a rule/violations/rate "
        "report. Zero joins, zero per-rule passes — the only shape "
        "that audits a 100 TB table at scan cost."
    ),
    tags=("sql", "quality", "audit"),
)
def q_dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    agg = li.agg(
        F.count("*").alias("n"),
        F.sum(
            (~F.col("l_quantity").between(1, 50)).cast("long")
        ).alias("qty"),
        F.sum((~(F.col("l_extendedprice") > 0)).cast("long")).alias("price"),
        F.sum(
            (~F.col("l_discount").between(0.0, 0.1)).cast("long")
        ).alias("disc"),
        F.sum(
            (~F.col("l_returnflag").isin("R", "A", "N")).cast("long")
        ).alias("flag"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("shipnull"),
    )
    # A global aggregate keeps one row even over an empty table — the
    # audit still reports every rule (with sums coalesced from null to
    # 0 and a null rate); pinned by test_dq_audit_empty_table.
    stacked = agg.selectExpr(
        "n",
        "stack(5, 'quantity_in_1_50', coalesce(qty, 0L), "
        "'price_positive', coalesce(price, 0L), "
        "'discount_in_0_0.1', coalesce(disc, 0L), "
        "'returnflag_domain', coalesce(flag, 0L), "
        "'shipdate_not_null', coalesce(shipnull, 0L)) AS (rule, n_violations)",
    )
    return stacked.select(
        "rule",
        "n_violations",
        # try_divide, not '/': ANSI mode raises on the empty-table 0/0
        F.round(F.try_divide("n_violations", "n"), 6).alias("violation_rate"),
    )


@_register(
    "shard_manifest",
    f"""
    WITH b AS (
      SELECT doc_id,
             len(string_split(trim(text), ' '))::BIGINT AS n_tokens,
             {_bucket_sql("'shard|' || doc_id::VARCHAR", 16)} AS shard,
             {_bucket_sql("doc_id::VARCHAR", mod=None, width=8)}::BIGINT AS idsum
      FROM documents)
    SELECT shard::BIGINT AS shard,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           sum(idsum)::BIGINT AS ids_checksum
    FROM b GROUP BY shard
    """,
    description=(
        "Deterministic shard manifest - the output-shaping stage before "
        "a training run: md5-bucket shard assignment (stable across "
        "engines/partitionings), per-shard doc count, token total, and "
        "an ORDER-FREE integer id checksum (sum of each doc's first 8 "
        "md5 nibbles) pinning exact shard membership without any "
        "collect_list - the manifest aggregates stay scan-shaped at "
        "any corpus size."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.functions import texthash as TH

    docs = fan_out(load_table(spark, "documents", sf_dir))
    idsum = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    keyed = docs.select(
        TH.md5_bucket(F.col("doc_id"), mod=16, salt="shard|").cast("bigint").alias("shard"),
        F.size(TH.words(F.col("text"))).cast("long").alias("n_tokens"),
        idsum.alias("idsum"),
    )
    return keyed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("idsum").alias("ids_checksum"),
    )


@_register(
    "fk_integrity_audit",
    """
    WITH l AS (
      SELECT count(*) AS n FROM lineitem li
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)),
    o AS (
      SELECT count(*) AS n FROM orders ord
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = ord.o_custkey)),
    c AS (
      SELECT count(*) AS n FROM customer cu
      WHERE NOT EXISTS (SELECT 1 FROM nation na WHERE na.n_nationkey = cu.c_nationkey))
    SELECT 'lineitem.l_orderkey->orders' AS fk, n::BIGINT AS n_orphans FROM l
    UNION ALL SELECT 'orders.o_custkey->customer', n::BIGINT FROM o
    UNION ALL SELECT 'customer.c_nationkey->nation', n::BIGINT FROM c
    """,
    description=(
        "Referential-integrity audit: orphan counts for three declared "
        "foreign keys via LEFT ANTI joins (the other half of the DQ "
        "story next to dq_constraint_audit's row-local rules). Each "
        "anti join is key-partitioned - at 100 TB the parent side of "
        "small dimensions broadcasts and the fact-side anti join is "
        "one shuffle; counts collapse map-side."
    ),
    tags=("sql", "quality", "audit", "join"),
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    def orphans(child, child_key, parent, parent_key, label):
        n = (
            child.join(
                parent, child[child_key] == parent[parent_key], "left_anti"
            )
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )
        return n

    return (
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(
            orphans(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey->customer")
        )
        .unionAll(
            orphans(cust, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey->nation")
        )
    )


@_register(
    "unigram_logprob_score",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
               FROM documents),
    c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
    n AS (SELECT sum(cnt) AS total FROM c),
    s AS (SELECT doc_id,
                 floor(ln(cnt::DOUBLE / total) * 1048576) AS q
          FROM t JOIN c USING (tok) CROSS JOIN n)
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(-sum(q) / (count(*) * 1048576.0), 6) AS mean_neg_logprob
    FROM s GROUP BY doc_id
    """,
    description=(
        "Unigram LM scoring (the CCNet perplexity-filter proxy): mean "
        "negative log-probability of each document's tokens under the "
        "corpus unigram distribution. Per-token logs are integer-"
        "quantized (floor(ln(p)*2^20)) before summing, so the mean is "
        "bit-identical across engines despite libm ln() ulp "
        "differences. One explode + token groupBy, one token join "
        "back, one doc groupBy; corpus total is a 1-row broadcast."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.unigram_logprob_score(docs, "text", "doc_id")


@_register(
    "curriculum_buckets",
    f"""
    WITH w AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents),
    {_QUALITY_SQL},
    b AS (SELECT doc_id, lang, quality_score,
                 ntile(10) OVER (PARTITION BY lang
                                 ORDER BY quality_score, doc_id) AS decile
          FROM q)
    SELECT lang, decile::BIGINT AS decile,
           count(*)::BIGINT AS n_docs,
           round(min(quality_score), 6) AS min_quality,
           round(max(quality_score), 6) AS max_quality
    FROM b GROUP BY lang, decile
    """,
    description=(
        "Curriculum bucketing: per-language quality DECILES with exact "
        "ntile(10) semantics (deterministic doc_id tie-break, ties "
        "split across deciles exactly as the SQL function does), "
        "aggregated to bucket boundaries - the ordering pass a "
        "curriculum-learning data loader consumes (feed high-quality "
        "deciles late, or sample per bucket). The rank comes from the "
        "two-phase bucket-offset topology (operators/selection."
        "with_global_rank): the only row-level window partitions by "
        "(lang, value-bucket), so no single task ever sorts a whole "
        "language - the decile is then pure integer arithmetic on "
        "(rank, count)."
    ),
    tags=("text", "extension", "pipeline", "analytic"),
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.functions import texthash as TH
    from flink_start_spark.operators import selection as S

    docs = fan_out(load_table(spark, "documents", sf_dir))
    q = C.track(
        docs.select(
            "doc_id",
            "lang",
            F.round(TX.quality_expr(TH.words(F.col("text"))), 6).alias(
                "quality_score"
            ),
        )
    )
    r = S.with_global_rank(q, ["lang"], "quality_score", ["doc_id"])
    b = r.withColumn(
        "decile", S.ntile_from_rank(F.col("_grank"), F.col("_gcnt"), 10)
    )
    return b.groupBy("lang", "decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("quality_score"), 6).alias("min_quality"),
        F.round(F.max("quality_score"), 6).alias("max_quality"),
    )


@_register(
    "quality_quartiles",
    f"""
    WITH {_QUALITY_SQL.strip()},
    r AS (
      SELECT lang, quality_score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality_score, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
      FROM q)
    SELECT r.lang, p.prob::DOUBLE AS prob, r.cnt::BIGINT AS n_docs,
           round(r.quality_score, 6) AS q_value
    FROM r CROSS JOIN (VALUES (0.25), (0.50), (0.75)) AS p(prob)
    WHERE r.rn = greatest(1, ceil(p.prob * r.cnt))
    """,
    description=(
        "Per-language exact quality QUARTILES (p25/p50/p75, lower/disc "
        "semantics - the value at rank max(1, ceil(p*cnt)), never "
        "interpolated, so cross-engine bit-exact) in ONE histogram "
        "pass via operators/selection.exact_quantile_values: all three "
        "targets are located by folds over the same per-(lang, value-"
        "bucket) histogram and share one in-bucket resolve scan - no "
        "per-language sort task, cost independent of how many "
        "quantiles are requested. The distribution summary a corpus "
        "quality dashboard reads per language."
    ),
    tags=("text", "extension", "pipeline", "analytic"),
)
def q_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.functions import texthash as TH
    from flink_start_spark.operators import selection as S

    docs = fan_out(load_table(spark, "documents", sf_dir))
    q = docs.select(
        "lang",
        F.round(TX.quality_expr(TH.words(F.col("text"))), 6).alias(
            "quality_score"
        ),
    )
    out = S.exact_quantile_values(
        q, ["lang"], "quality_score", [0.25, 0.50, 0.75], out_col="q_value"
    )
    return out.select(
        "lang",
        F.col("_prob").alias("prob"),
        F.col("_gcnt").alias("n_docs"),
        F.round(F.col("q_value"), 6).alias("q_value"),
    )


@_register(
    "pmi_collocations",
    """
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    bg AS (SELECT unnest([struct_pack(a := w[i], b := w[i+1])
                          FOR i IN range(1, len(w))], recursive := true)
           FROM d WHERE len(w) >= 2),
    cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
    u AS (SELECT unnest(w) AS tok FROM d),
    cu AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
    tot AS (SELECT (SELECT sum(c_ab) FROM cab) AS nb,
                   (SELECT sum(c) FROM cu) AS nu),
    s AS (SELECT a, b, c_ab,
                 (floor(ln(c_ab::DOUBLE) * 1048576)
                  + 2 * floor(ln(nu::DOUBLE) * 1048576)
                  - floor(ln(nb::DOUBLE) * 1048576)
                  - floor(ln(ca.c::DOUBLE) * 1048576)
                  - floor(ln(cb.c::DOUBLE) * 1048576)) AS pmi_q
          FROM cab JOIN cu ca ON cab.a = ca.tok
                   JOIN cu cb ON cab.b = cb.tok
                   CROSS JOIN tot
          WHERE c_ab >= 5),
    r AS (SELECT a, b, c_ab, pmi_q,
                 row_number() OVER (ORDER BY pmi_q DESC, a, b) AS rank
          FROM s)
    SELECT a, b, c_ab::BIGINT AS c_ab,
           round(pmi_q / 1048576.0, 6) AS pmi, rank::BIGINT AS rank
    FROM r WHERE rank <= 50
    """,
    description=(
        "Collocation mining: top-50 bigrams by pointwise mutual "
        "information, PMI = ln(p(ab)/(p(a)p(b))) decomposed into a SUM "
        "OF INTEGER-QUANTIZED LOG TERMS (floor(ln(count)*2^20) each) - "
        "integer addition commutes and avoids the >2^53 products a "
        "single-expression form hits at scale, so ranking is on exact "
        "integers and fully deterministic. Bigram/unigram counts "
        "collapse map-side; totals ride a 1-row broadcast; the rank "
        "window runs on the min-count-filtered bigram relation."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from flink_start_spark.functions import texthash as TH

    Q = 1048576
    docs = fan_out(load_table(spark, "documents", sf_dir))
    ws = TH.words(F.col("text"))
    d = docs.select(ws.alias("w")).where(F.size("w") >= 2)
    bg = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1), F.slice("w", 2, F.size("w") - 1)
            )
        ).alias("p")
    ).select(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"))
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    cab = C.track(cab)
    cu = (
        docs.select(F.explode(ws).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    cu = C.track(cu)
    tot = cab.agg(F.sum("c_ab").alias("nb")).crossJoin(
        cu.agg(F.sum("c").alias("nu"))
    )

    def qln(col):
        return F.floor(F.log(col.cast("double")) * Q)

    s = (
        cab.where(F.col("c_ab") >= 5)
        .join(cu.select(F.col("tok").alias("a"), F.col("c").alias("_ca")), "a")
        .join(cu.select(F.col("tok").alias("b"), F.col("c").alias("_cb")), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            (
                qln(F.col("c_ab"))
                + 2 * qln(F.col("nu"))
                - qln(F.col("nb"))
                - qln(F.col("_ca"))
                - qln(F.col("_cb"))
            ).alias("pmi_q"),
        )
    )
    # (pmi_q desc, a, b) is a total order: orderBy().limit() plans as
    # TakeOrderedAndProject (distributed per-partition top-k) and the
    # rank is reconstructed over the 50 survivors — no global sort of
    # the whole bigram relation.
    top = s.orderBy(F.col("pmi_q").desc(), "a", "b").limit(50)
    w = Window.orderBy(F.col("pmi_q").desc(), "a", "b")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "a",
        "b",
        "c_ab",
        F.round(F.col("pmi_q") / float(Q), 6).alias("pmi"),
        "rank",
    )


@_register(
    "doc_chunking",
    """
    WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    c AS (SELECT doc_id,
            [struct_pack(idx := i, start_word := i*24,
                         cw := w[(i*24+1):(i*24+32)])
             FOR i IN range(0, greatest(cast(ceil((len(w)-32)/24.0) AS BIGINT), 0) + 1)] AS cl
          FROM d),
    e AS (SELECT doc_id, unnest(cl, recursive := true) FROM c)
    SELECT doc_id, idx AS chunk_idx, start_word,
           len(cw)::BIGINT AS n_words,
           md5(array_to_string(cw, ' ')) AS chunk_md5
    FROM e
    """,
    description=(
        "RAG chunking: 32-word windows, stride 24 (8-word overlap), one "
        "typed row per chunk with provenance offsets and a byte-pinning "
        "md5 — the retrieval-index ingestion stage feeding the embed + "
        "ANN operators. Pure map work (split, sequence-transform, "
        "posexplode): zero shuffles at any corpus size."
    ),
    tags=("text", "extension", "pipeline", "rag"),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.doc_chunks(docs, "text", "doc_id", chunk_words=32, stride=24)


@_register(
    "boilerplate_removal",
    """
    WITH d AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
    c AS (SELECT doc_id, source,
            [struct_pack(pos := i,
                         passage := array_to_string(w[(i*5+1):((i+1)*5)], ' '))
             FOR i IN range(0, greatest(cast(ceil(len(w)/5.0) AS BIGINT), 1))] AS cl
          FROM d),
    e AS (SELECT doc_id, source, unnest(cl, recursive := true) FROM c),
    h AS (SELECT doc_id, source, pos, passage, md5(passage) AS ph FROM e),
    b AS (SELECT source, ph FROM h GROUP BY source, ph
          HAVING count(DISTINCT doc_id) >= 2),
    k AS (SELECT h.doc_id, h.source, h.pos, h.passage,
                 (b.ph IS NULL) AS kept
          FROM h LEFT JOIN b ON b.source = h.source AND b.ph = h.ph)
    SELECT doc_id,
           any_value(source) AS source,
           count(*)::BIGINT AS n_passages,
           count_if(NOT kept)::BIGINT AS n_boiler,
           round(count_if(NOT kept) / count(*)::DOUBLE, 6) AS boiler_frac,
           md5(coalesce(string_agg(CASE WHEN kept THEN passage END, ' ' ORDER BY pos), ''))
             AS stripped_md5
    FROM k GROUP BY doc_id
    """,
    description=(
        "Per-source boilerplate stripping (CCNet/jusText template "
        "stage): 5-word passages appearing in >=2 distinct documents "
        "of the same source are template text and ALL occurrences are "
        "removed (passage_dedup's complement, which keeps one global "
        "first occurrence). Document-frequency groups on the "
        "high-cardinality (source, passage-hash) composite, never the "
        "~20-value source alone; stripped_md5 pins the reassembled "
        "text byte-exactly."
    ),
    tags=("text", "extension", "pipeline", "dedup"),
)
def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import dedup as D

    docs = fan_out(load_table(spark, "documents", sf_dir))
    return D.boilerplate_removal(
        docs, "text", "doc_id", source_col="source", passage_words=5, min_docs=2
    )


def _nib8_sql(expr: str) -> str:
    """8-nibble md5→int32 (2^32 bucket addresses) for the triplet
    miner — the width-8, mod-free form of :func:`_bucket_sql`."""
    return _bucket_sql(expr, mod=None, width=8)


def _contrastive_oracle() -> str:
    return f"""
    WITH {_MINHASH_POS_CTE},
    nb AS (SELECT ceil(count(*) / 16.0)::BIGINT AS b FROM documents),
    db AS (SELECT doc_id AS neg, {_nib8_sql("doc_id::VARCHAR")} % nb.b AS bkt
           FROM documents, nb),
    an AS (SELECT DISTINCT id_a AS anchor FROM pos),
    ab AS (SELECT anchor, {_nib8_sql("'n|' || anchor::VARCHAR")} % nb.b AS bkt
           FROM an, nb),
    cn AS (SELECT ab.anchor, db.neg FROM ab JOIN db USING (bkt)
           WHERE db.neg <> ab.anchor
             AND NOT EXISTS (SELECT 1 FROM pos p
                             WHERE (p.id_a = ab.anchor AND p.id_b = db.neg)
                                OR (p.id_b = ab.anchor AND p.id_a = db.neg))),
    ng AS (SELECT anchor,
                  min_by(neg, md5(anchor::VARCHAR || '|' || neg::VARCHAR)) AS negative_id
           FROM cn GROUP BY anchor)
    SELECT pos.id_a AS anchor_id, pos.id_b AS positive_id, pos.jaccard,
           ng.negative_id
    FROM pos JOIN ng ON ng.anchor = pos.id_a
    """


@_register(
    "contrastive_triplets",
    _contrastive_oracle(),
    description=(
        "Contrastive training-set mining (DPR-style, built offline): "
        "(anchor, positive, negative) triplets where positives are the "
        "MinHash-LSH near-dup pairs and negatives are deterministic "
        "hash-bucket picks — documents bucketed by md5(id) into "
        "ceil(N/16) buckets, each anchor probes one salted bucket, "
        "drops itself and its positives (two anti joins), and keeps "
        "the candidate with the smallest pair-md5. Bucket COUNT scales "
        "with the corpus while bucket SIZE stays ~16, so the negative "
        "join is linear at any scale; every pick is md5-determined, so "
        "the oracle hash-matches exactly."
    ),
    tags=("text", "extension", "pipeline", "dedup", "training"),
)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import dedup as D

    docs = load_table(spark, "documents", sf_dir)
    return D.contrastive_triplets(docs, "text", "doc_id", threshold=0.5)


@_register(
    "pack_layout",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(text), ' '),
                             w -> w <> ''))::BIGINT AS n_tokens
      FROM documents),
    s AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS start_offset
      FROM t)
    SELECT doc_id, n_tokens, start_offset,
           (start_offset // 512)::BIGINT AS pack_id,
           (start_offset % 512)::BIGINT AS offset_in_pack,
           (CASE WHEN n_tokens > 0
                 THEN (start_offset + n_tokens - 1) // 512
                 ELSE start_offset // 512 END)::BIGINT AS end_pack_id
    FROM s
    """,
    description=(
        "Per-DOCUMENT pack layout (operators/packing.py) - the "
        "complement of sequence_packing's per-pack occupancy summary: "
        "documents laid out in id order as ONE concatenated token "
        "stream sliced into 512-token contexts, emitting each "
        "document's stream offset, first/last pack id, and in-pack "
        "offset (end_pack_id > pack_id when the document straddles a "
        "boundary - the standard pretraining semantics where documents "
        "may span contexts). This is the table a dataloader shards by "
        "pack_id. The exclusive prefix sum rides the two-phase "
        "bucket-offset rank (operators/selection.py) - per-bucket "
        "partials + bounded histogram prefix fold + in-bucket window, "
        "NO global sort task; pack arithmetic is integral `div` "
        "(offsets at 100 TB exceed double's exact range). The oracle "
        "states the same semantics as one global running-sum window."
    ),
    tags=("text", "extension", "pipeline", "training", "layout"),
)
def q_pack_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.functions import texthash as TH
    from flink_start_spark.operators import packing as P

    docs = fan_out(load_table(spark, "documents", sf_dir))
    lens = docs.select(
        "doc_id",
        F.size(F.filter(TH.words(F.col("text")), lambda w: w != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    return P.sequence_pack(lens, "doc_id", "n_tokens", window=512)


@_register(
    "bigram_logprob_score",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    i AS (SELECT doc_id, w[x] AS prev, w[x+1] AS cur
          FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS x FROM w)),
    bc AS (SELECT prev, cur, count(*) AS cb FROM i GROUP BY prev, cur),
    cc AS (SELECT prev, count(*) AS cp FROM i GROUP BY prev),
    v AS (SELECT count(DISTINCT tok) AS vv
          FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
                FROM documents)),
    s AS (SELECT doc_id, floor(ln((cb + 1)::DOUBLE / (cp + vv)) * 1048576) AS q
          FROM i JOIN bc USING (prev, cur) JOIN cc USING (prev) CROSS JOIN v)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(-sum(q) / (count(*) * 1048576.0), 6) AS mean_neg_logprob
    FROM s GROUP BY doc_id
    """,
    description=(
        "Bigram LM scoring (operators/text.py::bigram_logprob_score): "
        "mean negative ln P(cur|prev) per document under the corpus's "
        "own add-one-smoothed bigram distribution - the conditional-"
        "probability rung above unigram_logprob_score (word-order "
        "scrambles and stitched boilerplate score high here while "
        "every token is individually common). Pair extraction is "
        "IN-ROW (arrays_zip of the shifted word array - no position "
        "self-join); per-pair logs integer-quantized (floor(ln*2^20)) "
        "for cross-engine bit-exactness; vocabulary size rides a "
        "1-row broadcast. Docs with <2 tokens have no bigrams and are "
        "absent on both engines."
    ),
    tags=("text", "extension", "pipeline", "lm"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.bigram_logprob_score(docs, "text", "doc_id")


@_register(
    "source_token_kl",
    """
    WITH t AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
               FROM documents),
    st AS (SELECT source, tok, count(*)::BIGINT AS cst FROM t
           GROUP BY source, tok),
    tt AS (SELECT tok, sum(cst)::BIGINT AS ct FROM st GROUP BY tok),
    ts AS (SELECT source, sum(cst)::BIGINT AS ns FROM st GROUP BY source),
    n AS (SELECT sum(cst)::BIGINT AS nn FROM st),
    terms AS (
      SELECT source, ns,
             (cst * (floor(ln(cst::DOUBLE / ns) * 1048576)
                   - floor(ln(ct::DOUBLE / nn) * 1048576)))::BIGINT AS t
      FROM st JOIN tt USING (tok) JOIN ts USING (source) CROSS JOIN n)
    SELECT source, max(ns) AS n_tokens,
           round(sum(t) / (max(ns) * 1048576.0), 6) AS kl_to_corpus
    FROM terms GROUP BY source
    """,
    description=(
        "Per-source KL divergence of the token distribution from the "
        "corpus marginal (operators/text.py::source_token_kl) - the "
        "CONTENT-divergence companion to source_mixture_weights' "
        "size-based rates: near-zero KL = the source duplicates what "
        "the corpus already has; high KL = distinct text (or an "
        "outlier to inspect) - the signal a mixture designer weighs "
        "against size. No smoothing needed (the corpus marginal "
        "contains every source token); both logs integer-quantized "
        "separately so the weighted sum c_st*(q_s - q_c) is EXACT "
        "integer arithmetic, divided once at the end. ONE explode "
        "scan; the only non-broadcast join key is the unbounded-"
        "cardinality token."
    ),
    tags=("text", "extension", "pipeline", "curation"),
)
def q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return TX.source_token_kl(docs, "text", "source")
