"""End-to-end pipeline-compiler queries — the reference's canonical
``mdf run -c config.yaml`` path (SURVEY §3.1) driven through the YAML
compiler, with the DuckDB oracle reproducing the whole pipeline in SQL.

This is the strongest correctness statement in the catalog: config parse →
operator resolution → filter hoisting → chained plan → observe() metrics →
rejected side-output all have to be right for these to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.catalog import load_table
from webscale_multimodal_datapipeline_spark.compiler import compile_pipeline
from webscale_multimodal_datapipeline_spark.metrics import operator_metrics_df
from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ
from webscale_multimodal_datapipeline_spark.functions import stats as ST

PIPELINE_CFG = {
    "data_loader": {"table": "documents"},
    "stages": [
        {
            "name": "curate",
            "operators": [
                {
                    "type": "text_length_filter",
                    "params": {"min_length": 100, "max_length": 450},
                },
                {"type": "text_stats_refiner"},
                {
                    "type": "url_filter",
                    "params": {
                        "blocklist": ("src1", "src7"),
                        "quality_sources": ("src3",),
                        "score_threshold": 0.5,
                    },
                },
            ],
        },
        {
            "name": "dedup",
            "operators": [{"type": "text_exact_dedup"}],
        },
    ],
    "collect_rejected": True,
}

# SQL mirror of the pipeline's row flow. Operator order after filter
# hoisting: length filter, url filter (both hoistable — predicate over
# input columns), then the stats refiner, then dedup.
# Both predicates mirror the OPERATORS exactly, NULL-closed: the length
# filter tests coalesce(n_chars, length(text), 0) (never NULL), and a row
# whose url predicate can't evaluate (NULL word score) is REJECTED, not
# silently dropped from both counts (fail-closed, the rejected-sink
# conservation rule) — bare predicates made the oracle's WHERE NOT lose
# NULL-pred rows the Spark split() rejects (section 28).
_LEN_PRED = "(COALESCE(n_chars, length(text), 0) BETWEEN 100 AND 450)"
_URL_PRED = (
    f"COALESCE(((source NOT IN ('src1','src7') AND source NOT IN ('src3') "
    f"AND {OQ.sql_word_score('text')} < 0.5) OR source IS NULL), FALSE)"
)
_SURVIVOR_CTE = f"""
WITH survivors AS (
  SELECT * FROM documents
  WHERE {_LEN_PRED} AND {_URL_PRED}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY {OQ.sql_norm('text')} ORDER BY doc_id) = 1
)
"""


def p_pipeline_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final curated output aggregated per source."""
    result = compile_pipeline(PIPELINE_CFG).run(spark, sf_dir, observe_metrics=False)
    return result.output.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").alias("total_tokens"),
    )


P_OUTPUT_SQL = (
    _SURVIVOR_CTE
    + f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM({OQ.sql_token_count('text')}) AS BIGINT) AS total_tokens
FROM survivors GROUP BY source
"""
)


def p_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-operator observe() metrics of the same run (reference A1/A2
    funnel counters, ``framework/metrics/writer.py:28-54``)."""
    result = compile_pipeline(PIPELINE_CFG).run(spark, sf_dir)
    result.output.count()  # fire the action that populates observations
    mdf = operator_metrics_df(result.metrics, latencies=None)
    return mdf.select(
        "stage_name", "operator_name", "input_records", "output_records",
        F.round("pass_rate", 6).alias("pass_rate"),
    )


P_METRICS_SQL = f"""
WITH n_source AS (SELECT COUNT(*) AS n FROM documents),
n_len AS (SELECT COUNT(*) AS n FROM documents WHERE {_LEN_PRED}),
n_url AS (SELECT COUNT(*) AS n FROM documents WHERE {_LEN_PRED} AND {_URL_PRED}),
n_dedup AS (SELECT COUNT(*) AS n FROM (
  SELECT 1 FROM documents WHERE {_LEN_PRED} AND {_URL_PRED}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY {OQ.sql_norm('text')} ORDER BY doc_id) = 1
))
SELECT * FROM (
  SELECT 'source' AS stage_name, 'source' AS operator_name,
         (SELECT n FROM n_source) AS input_records,
         (SELECT n FROM n_source) AS output_records,
         1.0 AS pass_rate
  UNION ALL
  SELECT 'curate', 'text_length_filter', (SELECT n FROM n_source), (SELECT n FROM n_len),
         CASE WHEN (SELECT n FROM n_source) = 0 THEN 1.0
              ELSE ROUND((SELECT n FROM n_len) / (SELECT n FROM n_source), 6) END
  UNION ALL
  SELECT 'curate', 'url_filter', (SELECT n FROM n_len), (SELECT n FROM n_url),
         CASE WHEN (SELECT n FROM n_len) = 0 THEN 1.0
              ELSE ROUND((SELECT n FROM n_url) / (SELECT n FROM n_len), 6) END
  UNION ALL
  SELECT 'curate', 'text_stats_refiner', (SELECT n FROM n_url), (SELECT n FROM n_url), 1.0
  UNION ALL
  SELECT 'dedup', 'text_exact_dedup', (SELECT n FROM n_url), (SELECT n FROM n_dedup),
         CASE WHEN (SELECT n FROM n_url) = 0 THEN 1.0
              ELSE ROUND((SELECT n FROM n_dedup) / (SELECT n FROM n_url), 6) END
)
"""


def p_rejected_by_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejected side-output counts per (operator, reason) — the reference's
    rejected-samples sink partitioned by operator (executor.py:100-124)."""
    result = compile_pipeline(PIPELINE_CFG).run(spark, sf_dir, observe_metrics=False)
    rej = result.rejected
    return rej.groupBy(
        F.col("_rejection_details.operator").alias("operator"),
        F.col("_rejection_details.reason").alias("reason"),
    ).agg(F.count(F.lit(1)).alias("n"))


P_REJECTED_SQL = f"""
WITH len_rej AS (
  SELECT COUNT(*) AS n FROM documents WHERE NOT {_LEN_PRED}
), url_rej AS (
  SELECT COUNT(*) AS n FROM documents WHERE {_LEN_PRED} AND NOT {_URL_PRED}
), dedup_rej AS (
  SELECT COUNT(*) AS n FROM (
    SELECT 1 FROM documents WHERE {_LEN_PRED} AND {_URL_PRED}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY {OQ.sql_norm('text')} ORDER BY doc_id) > 1
  )
)
SELECT * FROM (
  SELECT 'text_length_filter' AS operator, 'filtered' AS reason, (SELECT n FROM len_rej) AS n
  UNION ALL
  SELECT 'url_filter', 'filtered', (SELECT n FROM url_rej)
  UNION ALL
  SELECT 'text_exact_dedup', 'duplicate', (SELECT n FROM dedup_rej)
) WHERE n > 0
"""


QUERIES = {
    "p_pipeline_output": p_pipeline_output,
    "p_pipeline_metrics": p_pipeline_metrics,
    "p_rejected_by_operator": p_rejected_by_operator,
}

ORACLE = {
    "p_pipeline_output": P_OUTPUT_SQL,
    "p_pipeline_metrics": P_METRICS_SQL,
    "p_rejected_by_operator": P_REJECTED_SQL,
}


def p_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (``quality.py``): a battery of named
    expectations — not-null, range, set membership, regex, uniqueness —
    compiled into ONE aggregation pass and unpivoted into a report row
    per expectation. The deequ/DLT-expectations shape the reference runs
    imperatively inside operators (``image_metadata.py:38-66``).

    The battery is chosen to exercise both outcomes: passing checks and
    a deliberately-violated one (``in_set`` without 'zh')."""
    from webscale_multimodal_datapipeline_spark import quality as Q

    d = load_table(spark, sf_dir, "documents")
    exps = [
        Q.expect_not_null("doc_id"),
        Q.expect_not_null("text"),
        Q.expect_in_range("n_chars", 1, 10000),
        Q.expect_in_set("lang", ("en", "es", "fr", "de")),  # zh -> violations
        Q.expect_regex("source", "^src[0-9]+$"),
        Q.expect_unique("doc_id"),
    ]
    return Q.evaluate(d, exps)


P_EXPECT_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v0,
         SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v1,
         SUM(CASE WHEN n_chars BETWEEN 1 AND 10000 THEN 0 ELSE 1 END) AS v2,
         SUM(CASE WHEN lang IN ('en','es','fr','de') THEN 0 ELSE 1 END) AS v3,
         SUM(CASE WHEN regexp_matches(source, '^src[0-9]+$') THEN 0 ELSE 1 END) AS v4,
         COUNT(doc_id) - COUNT(DISTINCT doc_id) AS v5
  FROM documents
)
SELECT u.expectation, agg.n AS n_rows, CAST(u.v AS BIGINT) AS n_violations,
       ROUND(CAST(u.v AS DOUBLE) / agg.n, 6) AS violation_rate,
       u.v = 0 AS passed
FROM agg, LATERAL (VALUES
  ('not_null(doc_id)', v0), ('not_null(text)', v1), ('in_range(n_chars)', v2),
  ('in_set(lang)', v3), ('regex(source)', v4), ('unique(doc_id)', v5)
) AS u(expectation, v)
"""

QUERIES["p_expectations_report"] = p_expectations_report
ORACLE["p_expectations_report"] = P_EXPECT_SQL


# FK edges of the TPC-H-ish catalog: (edge label, child table, child key,
# parent table, parent key).
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def p_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the catalog —
    the ingest-time contract check a warehouse runs before promoting a
    snapshot (deequ's isContainedIn/satisfies family, one row per edge).

    Per edge: child rows, distinct child keys, orphan children (left_anti
    against the parent — NULL-key rows count as orphans exactly as
    NOT EXISTS does not match them), and childless parents (parents no
    child references — e.g. customers with zero orders). Scale shape:
    one distributed anti-join per direction per edge, each a key-only
    projection (AQE free to broadcast the dim side); output bounded by
    the number of edges, never the data.
    """
    rows = []
    for label, ct, ck, pt, pk in _FK_EDGES:
        child = load_table(spark, sf_dir, ct).select(F.col(ck).alias("_ck"))
        parent = load_table(spark, sf_dir, pt).select(F.col(pk).alias("_pk"))
        stats = child.agg(
            F.count(F.lit(1)).alias("child_rows"),
            F.countDistinct("_ck").alias("distinct_child_keys"),
        )
        orphans = (
            child.join(parent, child["_ck"] == parent["_pk"], "left_anti")
            .agg(F.count(F.lit(1)).alias("orphan_children"))
        )
        childless = (
            parent.join(child, child["_ck"] == parent["_pk"], "left_anti")
            .agg(F.count(F.lit(1)).alias("childless_parents"))
        )
        rows.append(
            stats.crossJoin(orphans)
            .crossJoin(childless)
            .select(
                F.lit(label).alias("edge"),
                "child_rows",
                "distinct_child_keys",
                "orphan_children",
                "childless_parents",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _fk_edge_sql(label: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
SELECT '{label}' AS edge,
       (SELECT COUNT(*) FROM {ct}) AS child_rows,
       (SELECT COUNT(DISTINCT {ck}) FROM {ct}) AS distinct_child_keys,
       (SELECT COUNT(*) FROM {ct} c
         WHERE NOT EXISTS (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck}))
         AS orphan_children,
       (SELECT COUNT(*) FROM {pt} p
         WHERE NOT EXISTS (SELECT 1 FROM {ct} c WHERE c.{ck} = p.{pk}))
         AS childless_parents
"""


P_REF_INTEGRITY_SQL = "\nUNION ALL\n".join(
    _fk_edge_sql(*edge) for edge in _FK_EDGES
)

QUERIES["p_referential_integrity"] = p_referential_integrity
ORACLE["p_referential_integrity"] = P_REF_INTEGRITY_SQL


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two table versions)
# ---------------------------------------------------------------------------


def p_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two snapshots of the documents table (the
    CDC/table-format companion to ``sources/txtable.py`` time travel):
    per source, counts of added / removed / changed / unchanged keys.

    Snapshots are derived deterministically — "old" drops keys ≡ 5
    (mod 13), "new" drops keys ≡ 3 (mod 17) and rewrites the text of keys
    ≡ 0 (mod 7) — so the diff exercises all four change classes at every
    scale factor.

    Scale shape: each side reduces to (key, payload-fingerprint) BEFORE
    the shuffle — the full-outer join exchanges 2 longs + a hash per row,
    never the document bodies (at 100 TB that is the difference between
    shuffling 16-byte digests and shuffling the corpus). One key-keyed
    full-outer join, then a bounded per-(source, change_type) rollup.
    The fingerprint is md5 (the engine-portable digest; xxhash64 is the
    production lane, ``functions/text.py`` quality-classifier note)."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 13 != 5).select(
        "doc_id",
        "source",
        F.md5(F.concat_ws("\x1f", "text", "lang", "source")).alias("fp"),
    )
    new = (
        d.filter(F.col("doc_id") % 17 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.lit("v2 "), F.col("text"))
            ).otherwise(F.col("text")),
        )
        .select(
            "doc_id",
            "source",
            F.md5(F.concat_ws("\x1f", "text", "lang", "source")).alias("fp"),
        )
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer").select(
        F.coalesce(F.col("o.source"), F.col("n.source")).alias("source"),
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return (
        joined.groupBy("source", "change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("source", "change_type")
    )


P_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, source,
         md5(concat_ws(chr(31), text, lang, source)) AS fp
  FROM documents WHERE doc_id % 13 <> 5
), new AS (
  SELECT doc_id, source,
         md5(concat_ws(chr(31),
             CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END,
             lang, source)) AS fp
  FROM documents WHERE doc_id % 17 <> 3
), joined AS (
  SELECT COALESCE(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source, change_type, COUNT(*) AS n_rows
FROM joined GROUP BY source, change_type ORDER BY source, change_type
"""

QUERIES["p_snapshot_diff"] = p_snapshot_diff
ORACLE["p_snapshot_diff"] = P_SNAPSHOT_DIFF_SQL


# ---------------------------------------------------------------------------
# Compaction plan (small-file bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 64_000  # target output-file payload, chars


def p_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the write-side companion to the
    parquet sink's compaction option, ``sources/sinks.py``): pack each
    source's documents into contiguous ~64 KB output bins and report the
    resulting file layout (bin count, per-bin payload, fill ratio).

    Bin assignment is the deterministic streaming rule real compactors
    use (Iceberg/Delta binpack by target-file-size): walk the source's
    rows in key order, cut a new bin when the running payload passes the
    target — expressed as ``floor(exclusive-prefix-sum / target)``, one
    cumulative window per source partition. The final rollup is bounded
    by |sources| × |bins|. No driver-side state; every source plans its
    layout in parallel."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.select(
        "source",
        "n_chars",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars")) / F.lit(_COMPACT_TARGET)
        ).alias("bin"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("payload_chars"),
        )
        .withColumn(
            "fill_pct",
            (F.col("payload_chars") * 100 / F.lit(_COMPACT_TARGET)).cast("bigint"),
        )
        .orderBy("source", "bin")
    )


P_COMPACTION_SQL = f"""
WITH binned AS (
  SELECT source, n_chars,
         CAST(floor((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_chars) / {_COMPACT_TARGET}) AS BIGINT) AS bin
  FROM documents
)
SELECT source, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS payload_chars,
       CAST(SUM(n_chars) * 100 // {_COMPACT_TARGET} AS BIGINT) AS fill_pct
FROM binned GROUP BY source, bin ORDER BY source, bin
"""

QUERIES["p_compaction_plan"] = p_compaction_plan
ORACLE["p_compaction_plan"] = P_COMPACTION_SQL


# ---------------------------------------------------------------------------
# Primary-key uniqueness audit (catalog-wide)
# ---------------------------------------------------------------------------

_PK_COLUMNS = (
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
)


def p_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide primary-key uniqueness audit: one row per table with
    the row count, distinct-key count, null-key count, and duplicate
    mass — the first data-contract check a pipeline runs on a new
    snapshot (the key-level complement to ``p_referential_integrity``'s
    cross-table edges and the ``expectations`` layer's per-column
    rules).

    Scale shape: one COUNT/COUNT-DISTINCT aggregate per table — each a
    single map-side-combinable pass — unioned into a bounded 7-row
    report. Exact integers throughout.
    """
    parts = []
    for tbl, pk in _PK_COLUMNS:
        t = load_table(spark, sf_dir, tbl)
        parts.append(
            t.agg(
                F.lit(tbl).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(F.col(pk)).cast("bigint").alias("n_distinct"),
                F.count(F.when(F.col(pk).isNull(), 1))
                .cast("bigint")
                .alias("n_null_keys"),
                (F.count(F.col(pk)) - F.count_distinct(F.col(pk)))
                .cast("bigint")
                .alias("n_duplicates"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


P_PK_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT {pk}) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) FILTER (WHERE {pk} IS NULL) AS BIGINT) AS n_null_keys,
       CAST(COUNT({pk}) - COUNT(DISTINCT {pk}) AS BIGINT) AS n_duplicates
FROM {tbl}"""
    for tbl, pk in _PK_COLUMNS
) + "\nORDER BY table_name"

QUERIES["p_pk_uniqueness"] = p_pk_uniqueness
ORACLE["p_pk_uniqueness"] = P_PK_SQL


# ---------------------------------------------------------------------------
# Dataset card: the one-row release summary
# ---------------------------------------------------------------------------


def p_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD for the documents corpus — the release
    summary every published training set ships (HF dataset cards,
    Datasheets for Datasets, Gebru et al. 2021): volume (docs, chars,
    whitespace tokens), composition (sources, languages, English
    share), hygiene (exact-duplicate rate on the normalized-text hash),
    and shape (mean/median length). One query a release pipeline runs
    LAST, after curation, to stamp the artifact.

    Exactness: counts and sums are integers; ratios divide exact
    integers once; the median is the exact lower-median element
    (count/2+1-th order statistic via one bounded-domain length rollup,
    no global sort of rows).

    Scale shape: ONE pass over documents computes every count/sum
    (map-side combinable conditional aggregates) + one distinct-hash
    count; the median comes from a length-histogram rollup (bounded by
    the length value domain) — the fact table never sorts.
    """
    from webscale_multimodal_datapipeline_spark.functions import text as TXF

    d = load_table(spark, sf_dir, "documents")
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(TXF.token_count("text")).cast("long").alias("total_tokens"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("_n_en"),
        F.countDistinct(TXF.md5_long(TXF.normalize_text(F.col("text"))))
        .cast("long")
        .alias("_n_uniq"),
    )
    # exact lower median over KNOWN lengths (shared helper — NULL
    # exclusion is the cross-engine spec, see functions/stats.py)
    med = ST.exact_lower_median(d, "n_chars").select(
        F.col("median").cast("long").alias("median_chars")
    )
    return base.crossJoin(F.broadcast(med)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_tokens",
        F.round(
            F.col("total_chars").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("mean_chars"),
        "median_chars",
        F.round(F.col("_n_en").cast("double") / F.col("n_docs").cast("double"), 6).alias(
            "pct_english"
        ),
        F.round(
            (F.col("n_docs") - F.col("_n_uniq")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("exact_dup_rate"),
    )


P_DATASET_CARD_SQL = f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM({OQ.sql_token_count('text')}) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
         CAST(COUNT(DISTINCT {OQ.sql_md5_long(OQ.sql_norm('text'))}) AS BIGINT)
           AS n_uniq
  FROM documents
), med AS (
  SELECT CAST({OQ.sql_lower_median('n_chars', 'documents')} AS BIGINT)
           AS median_chars
)
SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
       ROUND(CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
         AS mean_chars,
       median_chars,
       ROUND(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pct_english,
       ROUND(CAST(n_docs - n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS exact_dup_rate
FROM base, med
"""

QUERIES["p_dataset_card"] = p_dataset_card
ORACLE["p_dataset_card"] = P_DATASET_CARD_SQL
