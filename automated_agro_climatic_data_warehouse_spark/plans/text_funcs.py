"""Text-cleaning and NLP-extraction queries (SURVEY §2.8 F13-F21, A7).

The documents table is synthetic word-salad, so to exercise the cleaning
and extraction regexes end-to-end we deterministically augment/construct
text from table columns, run the library functions, and oracle-check
against either the same regex chain in DuckDB (cleaning) or the closed-form
arithmetic the construction implies (extraction) — the latter proves the
regex path recovers exactly the planted values.

Dialect notes: DuckDB regexp_replace needs the 'g' flag (Spark replaces
all matches by default) and spells backreferences '\\1' (Spark: '$1').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cleaning, extraction
from ..sources import load_table
from .registry import query

# deterministic "dirty" suffix exercising the full dictionary breadth:
# dotted + undotted abbreviations, the multi-word temperature spellings,
# compound units (kg/ha), unit standardization (hrs/percent), bracket +
# author-year citations, a URL, number words, and ragged whitespace
DIRTY_SUFFIX = (
    " The Temp. was twenty deg celsius with precip of six kg/ha over ten"
    " hrs and 50 percent hum [1, 2] per (Smith et al., 2020)"
    " see https://example.org/ref   with    extra spaces."
)


def _augmented_text():
    return F.concat(F.col("text"), F.lit(DIRTY_SUFFIX))


_AUG_SQL = "text || '" + DIRTY_SUFFIX.replace("'", "''") + "'"


def _nested_replace_sql(expr: str, steps: list[tuple[str, str]]) -> str:
    """Nest DuckDB regexp_replace(..., 'g') calls for an ordered
    (pattern, replacement) chain — the exact same pattern strings the
    Spark plan uses (RE2 ∩ Java common dialect). Oracle templates are
    consumed via str.replace('{sf}', dir) — regex braces stay literal."""

    def lit(s: str) -> str:
        return s.replace("'", "''")

    for pat, repl in steps:
        expr = f"regexp_replace({expr}, '{lit(pat)}', '{lit(repl)}', 'g')"
    return expr


_F13_CHAIN_SQL = _nested_replace_sql("t", cleaning.clean_pipeline_steps())


@query(
    "f13_clean_pipeline",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t
                 FROM read_parquet('{{sf}}/documents.parquet'))
    SELECT doc_id,
           md5(trim(regexp_replace({_F13_CHAIN_SQL},
                                   '\\s+', ' ', 'g'))) AS clean_hash
    FROM aug
    """,
    tags=("F13", "F14", "F15", "F16"),
)
def f13_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-cleaning pipeline (reference TextCleaner.clean,
    cleaners.py:78-103) with the COMPLETE reference dictionaries (all 27
    abbreviation + 18 unit entries, cleaners.py:21-70): abbreviation
    expansion → unit standardization → citation/URL strip → number words
    → whitespace collapse. Spark chain and DuckDB oracle replay the SAME
    ``cleaning.clean_pipeline_steps()`` list, so the md5(clean) hash
    certifies byte-identical cleaning."""
    docs = load_table(spark, sf_dir, "documents")
    t = _augmented_text()
    for pat, repl in cleaning.clean_pipeline_steps():
        t = F.regexp_replace(t, pat, repl)
    t = cleaning.collapse_whitespace(t)
    return docs.select("doc_id", F.md5(t).alias("clean_hash"))


@query(
    "f17_sentence_split",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'First sentence is right here. Tiny. ' || substr(text, 1, 80)
               || ' tail continues!' AS t
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT doc_id,
           len(list_filter(
             string_split(regexp_replace(t, '([.!?])\\s+', '\\1' || chr(1), 'g'),
                          chr(1)),
             s -> len(s) > 10)) AS n_sentences
    FROM aug
    """,
    tags=("F17",),
)
def f17_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence split with fragment filter (reference cleaners.py:177-183).
    Sentinel-marking instead of lookbehind keeps the pattern in the
    RE2 ∩ Java dialect (SURVEY §7.4 regex-dialect risk)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("First sentence is right here. Tiny. "),
        F.substring(F.col("text"), 1, 80),
        F.lit(" tail continues!"),
    )
    return docs.select(
        "doc_id", F.size(cleaning.split_sentences(t)).alias("n_sentences")
    )


# ---- constructed agro text: the planted values are recoverable in closed
# form, so the oracle states the EXPECTED extraction arithmetically.

def _crop_text():
    return F.concat(
        F.lit("Plant "),
        F.col("p_name"),
        F.lit(" requires temperatures between "),
        (F.col("p_size") % 30).cast("string"),
        F.lit("°C and "),
        (F.col("p_size") % 30 + 7).cast("string"),
        F.lit("°C. It needs "),
        (1 + F.col("p_partkey") % 12).cast("string"),
        F.lit(" mm of water per day. It prefers full sun exposure of "),
        (4 + F.col("p_size") % 8).cast("string"),
        F.lit(" to "),
        (6 + F.col("p_size") % 8).cast("string"),
        F.lit(" hours daily."),
        F.when(
            F.col("p_partkey") % 3 > 0,
            F.lit(" Soil pH between 5.5 and 7.5 is ideal."),
        ).otherwise(F.lit("")),
    )


@query(
    "f18_extract_temp_range",
    oracle="""
    SELECT p_partkey,
           CAST(p_size % 30 AS DOUBLE) AS temp_min_c,
           CAST(p_size % 30 + 7 AS DOUBLE) AS temp_max_c
    FROM read_parquet('{sf}/part.parquet')
    """,
    tags=("F18",),
)
def f18_extract_temp_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-range extraction (reference nlp_extractor.py:36-41,
    117-130). The oracle states the planted values — the regex path must
    recover them exactly for every row."""
    p = load_table(spark, sf_dir, "part")
    tmin, tmax = extraction.extract_temp_range(_crop_text())
    return p.select(
        "p_partkey", tmin.alias("temp_min_c"), tmax.alias("temp_max_c")
    )


@query(
    "f19_extract_water",
    oracle="""
    SELECT p_partkey, CAST(1 + p_partkey % 12 AS DOUBLE) AS water_mm_day
    FROM read_parquet('{sf}/part.parquet')
    """,
    tags=("F19",),
)
def f19_extract_water(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-requirement extraction (reference nlp_extractor.py:42-47)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        extraction.extract_water_mm_day(_crop_text()).alias("water_mm_day"),
    )


@query(
    "f20_extract_sunlight",
    oracle="""
    SELECT p_partkey, CAST(5 + p_size % 8 AS DOUBLE) AS sunlight_hours
    FROM read_parquet('{sf}/part.parquet')
    """,
    tags=("F20",),
)
def f20_extract_sunlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sunlight extraction with range midpoint (reference
    nlp_extractor.py:48-53,146-164): midpoint of [4+k, 6+k] = 5+k."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        extraction.extract_sunlight_hours(_crop_text()).alias("sunlight_hours"),
    )


@query(
    "f21_extract_ph",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_partkey % 3 > 0 THEN 5.5 END AS ph_min,
           CASE WHEN p_partkey % 3 > 0 THEN 7.5 END AS ph_max
    FROM read_parquet('{sf}/part.parquet')
    """,
    tags=("F21",),
)
def f21_extract_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pH-range extraction with missing-sentence rows → NULL (reference
    nlp_extractor.py:54-58,166-178)."""
    p = load_table(spark, sf_dir, "part")
    pmin, pmax = extraction.extract_ph_range(_crop_text())
    return p.select("p_partkey", pmin.alias("ph_min"), pmax.alias("ph_max"))


@query(
    "f25_nlp_confidence",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_partkey % 3 > 0
                THEN 1.0
                ELSE ((0.3 + 0.3) + 0.2) + least(0.05 * 3, 0.2)
           END AS confidence
    FROM read_parquet('{sf}/part.parquet')
    """,
    tags=("A7", "F18", "F19", "F20", "F21"),
)
def f25_nlp_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end extraction confidence (reference nlp_extractor.py:180-196):
    3 found fields → 0.8 + min(0.05·3, 0.2) ≈ 0.95; 4 found → capped 1.0.
    The oracle replays the SAME left-to-right double chain rather than a
    simplified 0.95 literal — 0.8 + 0.15000000000000002 lands one ulp
    above 0.95, and the driver hashes unrounded doubles (the old
    round(9) local gate masked exactly this; caught by the pandas-level
    gate at sf0.001)."""
    p = load_table(spark, sf_dir, "part")
    t = _crop_text()
    tmin, _ = extraction.extract_temp_range(t)
    pmin, _ = extraction.extract_ph_range(t)
    water = extraction.extract_water_mm_day(t)
    sun = extraction.extract_sunlight_hours(t)
    evidence = (
        tmin.isNotNull().cast("int")
        + water.isNotNull().cast("int")
        + sun.isNotNull().cast("int")
        + pmin.isNotNull().cast("int")
    )
    conf = extraction.confidence_score(
        tmin.isNotNull(), water.isNotNull(), sun.isNotNull(), pmin.isNotNull(),
        evidence,
    )
    return p.select("p_partkey", conf.alias("confidence"))


@query(
    "f27_sentence_udtf",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'First sentence is right here. Tiny. ' || substr(text, 1, 80)
               || ' tail continues!' AS t
      FROM read_parquet('{sf}/documents.parquet')
    ), lst AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(t, '([.!?])\\s+', '\\1' || chr(1), 'g'),
                 chr(1)),
               s -> len(s) > 10) AS ss
      FROM aug
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS sentence_idx,
           md5(ss[i]) AS sentence_md5,
           CAST(len(ss[i]) AS INT) AS n_chars
    FROM lst, UNNEST(generate_series(1, len(ss))) AS g(i)
    """,
    tags=("F17", "udtf", "pandas-udf"),
)
def f27_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One source row → N sentence rows through a REAL Python UDTF
    (Spark 4 `@udtf` + LATERAL join) — the table-function surface
    SURVEY §2.9 previously covered only with a struct-returning pandas
    UDF. Same sentinel-split semantics as f17 (the RE2 ∩ Java ∩ Python
    dialect subset), emitted as (idx, md5, length) rows so the oracle
    verifies the full fan-out value-for-value. UDTFs run row-at-a-time
    in Python — the SLOW path, kept OFF hot pipelines (f13/f17 stay
    native); this exists because some fan-outs (per-row API calls,
    generative expansion) have no columnar form, and the lateral-join
    plan (one narrow generator stage, no shuffle) is what they should
    look like."""
    import hashlib
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence_md5 string, n_chars int")
    class SentenceExplode:
        def eval(self, text: str):
            if text is None:
                return
            marked = re.sub(r"([.!?])\s+", "\\1\x01", text)
            for i, s in enumerate(
                x for x in marked.split("\x01") if len(x) > 10
            ):
                yield i, hashlib.md5(s.encode("utf-8")).hexdigest(), len(s)

    spark.udtf.register("sentence_explode_udtf", SentenceExplode)
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "doc_id",
        F.concat(
            F.lit("First sentence is right here. Tiny. "),
            F.substring(F.col("text"), 1, 80),
            F.lit(" tail continues!"),
        ).alias("t"),
    ).createOrReplaceTempView("_f27_docs")
    return spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence_md5, s.n_chars "
        "FROM _f27_docs, LATERAL sentence_explode_udtf(t) s"
    )
