"""End-to-end training-data preparation (north-star extension — the
flagship COMPOSITE: every LLM-pipeline leg chained the way a real corpus
build runs them, verified value-for-value against one DuckDB oracle).

``pipe_training_prep`` stages:

1. whitespace-normalize raw text
2. language-ID gate (keep docs the stopword-profile argmax calls 'en' —
   same rule as ts_lang_id, textstats_queries.py)
3. quality gate (same length/word-length/stopword/punctuation battery as
   ts_quality_score; keep score ≥ 0.5 and ≥ 10 words)
4. exact dedup on md5 of the lowercased text, keep the smallest doc_id
5. near-dup purge: MinHash-LSH pairs (operators/dedup.py) over the
   survivors, greedy rule "drop the larger id of every pair" — the
   pair-level purge; the cluster-level (connected-components) variant is
   dedup_cc_purge (graph_queries.py)
6. deterministic 80/10/10 hash split (same salt scheme as
   split_train_val_test, sampling_queries.py)

Injected near-dups (every 10th doc copied at doc_id + 10^12 with a tail
marker) prove stage 5 actually purges; 10^12 is disjoint from the
real doc_id space at any plausible scale factor.

``ts_pii_scrub`` is the compliance leg: count + redact emails / IPv4s /
US-style phone numbers with engine-portable regexes. PII is injected
into every 20th doc (address derived from doc_id) so redactions provably
happen; the md5 over the redacted text verifies the rewrite byte-exactly.

Scale notes (100 TB shape): stages 1-4 and 6 are narrow maps + one
hash-groupBy (uniform md5 keys); stage 5 is the banded-LSH plan whose
scale story lives in operators/dedup.py. Nothing here collects, nothing
is quadratic, and the one materialization (the stage-4 survivor set) is
the natural persist point a production corpus build writes to storage
anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.dedup import dedup_hash_backend, hash32, minhash_lsh_dedup
from ..session import materialize
from ..sources import fan_out, load_table
from .dedup_queries import minhash_pairs_with_list
from .registry import query
from .sampling_queries import _pct, _pct_sql
from .textstats_queries import _LANG_STOPWORDS

# disjoint from real doc_ids at any plausible sf (docs ≈ 50k·sf)
_DUP_OFFSET = 10**12
_TAIL = " neardup tail marker"


def _lang_score(lang: str, low: Column) -> Column:
    return F.regexp_count(low, F.lit(f"\\b({_LANG_STOPWORDS[lang]})\\b"))


_PREP_ORACLE = (
    """
    WITH raw AS (
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      UNION ALL
      SELECT doc_id + 1000000000000, text || '"""
    + _TAIL
    + """'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
      FROM raw
    ), scored AS (
      SELECT doc_id, text,
        len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|for)\\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\\b(el|la|de|y|que|los|por|un)\\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|von|mit|den)\\b')) AS s_de,
        len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des|en|une|du)\\b')) AS s_fr,
        len(regexp_split_to_array(text, '\\s+')) AS wc,
        length(replace(text, ' ', '')) AS chars,
        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct
      FROM norm
    ), graded AS (
      SELECT doc_id, text, wc,
        least(1.0,
            0.4 * least(wc / 100.0, 1.0)
          + 0.3 * least((CAST(chars AS DOUBLE) / wc) / 8.0, 1.0)
          + 0.2 * least(s_en * 10.0 / wc, 1.0)
          + 0.1 * (CASE WHEN punct * 1.0 / wc < 0.2 THEN 1.0 ELSE 0.0 END)
        ) AS quality_score
      FROM scored
      WHERE s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
    ), kept AS (
      SELECT * FROM graded WHERE quality_score >= 0.5 AND wc >= 10
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY md5(lower(text))
                                   ORDER BY doc_id) AS rn
      FROM kept
    ), uniq AS (
      SELECT doc_id, text, wc, quality_score FROM ranked WHERE rn = 1
    ),
    """
    + minhash_pairs_with_list("SELECT doc_id, text FROM uniq", 0.6)
    + f"""
    SELECT doc_id,
           CASE WHEN {_pct_sql('doc_id', 'split')} < 80 THEN 'train'
                WHEN {_pct_sql('doc_id', 'split')} < 90 THEN 'val'
                ELSE 'test' END AS split,
           wc, quality_score
    FROM uniq
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
    """
)


@query(
    "pipe_training_prep",
    oracle=_PREP_ORACLE,
    tags=("pipeline", "dedup-minhash", "text-langid", "text-quality", "sampling"),
)
def pipe_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite corpus build (module docstring): normalize → lang
    gate → quality gate → exact dedup → LSH near-dup purge → hash split.
    Hash backend for the LSH stage: SPARK_GRAFT_DEDUP_HASH (md5 parity /
    xxhash64 production, operators/dedup.py docstring)."""
    backend = dedup_hash_backend()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TAIL)).alias("text"),
    )
    raw = docs.unionByName(mutated)

    norm = raw.select(
        "doc_id",
        F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")).alias("text"),
    )
    low = F.lower(F.col("text"))
    s = {lang: _lang_score(lang, low) for lang in _LANG_STOPWORDS}
    is_en = (
        (s["en"] > 0)
        & (s["en"] >= s["es"])
        & (s["en"] >= s["de"])
        & (s["en"] >= s["fr"])
    )
    wc = F.size(F.split(F.col("text"), "\\s+"))
    chars = F.length(F.regexp_replace(F.col("text"), " ", ""))
    punct = F.regexp_count(F.col("text"), F.lit("[^A-Za-z0-9\\s]"))
    score = F.least(
        F.lit(1.0),
        0.4 * F.least(wc / 100.0, F.lit(1.0))
        + 0.3 * F.least((chars.cast("double") / wc) / 8.0, F.lit(1.0))
        + 0.2 * F.least(s["en"] * 10.0 / wc, F.lit(1.0))
        + 0.1 * F.when(punct * 1.0 / wc < 0.2, 1.0).otherwise(0.0),
    )
    kept = (
        norm.filter(is_en)
        .select("doc_id", "text", wc.alias("wc"), score.alias("quality_score"))
        .filter((F.col("quality_score") >= 0.5) & (F.col("wc") >= 10))
    )
    w = W.partitionBy(F.md5(low)).orderBy("doc_id")
    uniq = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # survivor set feeds both the LSH stage (which re-reads it for the
    # candidate-doc shingling) and the final anti-join — materialize once
    # (same lesson as connected_components / dedup_ngram_jaccard); this is
    # also where a production build persists the cleaned corpus
    uniq = materialize(fan_out(uniq), "pipe_training_prep.uniq")
    pairs = minhash_lsh_dedup(uniq, backend=backend)
    purge = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    final = uniq.join(purge, "doc_id", "left_anti")
    p = _pct(F.col("doc_id"), "split")
    split = F.when(p < 80, "train").when(p < 90, "val").otherwise("test")
    return final.select(
        "doc_id", split.alias("split"), "wc", "quality_score"
    )


# --- PII scrub ------------------------------------------------------------

# engine-portable patterns (identical semantics in Java regex and RE2-ish
# DuckDB regexes: character classes, bounded repetition, \b anchors)
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


@query(
    "ts_pii_scrub",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 20 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com at 192.168.1.'
                       || CAST(doc_id % 256 AS VARCHAR) || ' or 555-867-530'
                       || CAST(doc_id % 10 AS VARCHAR)
                  ELSE text END AS text
      FROM read_parquet('{{sf}}/documents.parquet')
    ), counted AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '{_EMAIL}')) AS n_emails,
             len(regexp_extract_all(text, '{_IPV4}')) AS n_ips,
             len(regexp_extract_all(text, '{_PHONE}')) AS n_phones
      FROM injected
    )
    SELECT doc_id, n_emails, n_ips, n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL}', '[EMAIL]', 'g'),
               '{_IPV4}', '[IP]', 'g'),
               '{_PHONE}', '[PHONE]', 'g')) AS redacted_md5
    FROM counted
    """,
    tags=("pii", "text-clean"),
)
def ts_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (the compliance pass every training
    corpus needs): count and strip emails / IPv4s / phone numbers with
    one codegen'd regex chain — narrow map, no shuffle, the cheapest
    100 TB shape. PII is injected into every 20th doc so redactions
    provably happen; redacted_md5 pins the rewrite byte-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 20 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 192.168.1."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" or 555-867-530"),
            (F.col("doc_id") % 10).cast("string"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(injected, _EMAIL, "[EMAIL]"), _IPV4, "[IP]"
        ),
        _PHONE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(injected, F.lit(_EMAIL)).alias("n_emails"),
        F.regexp_count(injected, F.lit(_IPV4)).alias("n_ips"),
        F.regexp_count(injected, F.lit(_PHONE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "dedup_contamination",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM read_parquet('{{sf}}/documents.parquet')
      UNION ALL
      SELECT -(doc_id + 1), text
      FROM read_parquet('{{sf}}/documents.parquet') WHERE doc_id % 25 = 0
    ), assigned AS (
      SELECT doc_id, md5(text) AS text_hash,
             CASE WHEN {_pct_sql('doc_id', 'split')} < 80 THEN 'train'
                  WHEN {_pct_sql('doc_id', 'split')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    )
    SELECT t.doc_id AS test_doc_id, count(*) AS n_train_copies
    FROM assigned t
    JOIN assigned tr ON tr.text_hash = t.text_hash AND tr.split = 'train'
    WHERE t.split = 'test'
    GROUP BY t.doc_id
    """,
    tags=("pipeline", "dedup-exact", "contamination"),
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check — the decontamination leg every
    eval pipeline needs: test-split documents whose exact text also
    appears in the train split. Fixture: every 25th doc is duplicated
    under a disjoint -(id+1) key, so some copies land in different
    splits by the hash assignment. One hash-groupBy-sized equi-join on
    md5(text) (uniform key); at 100 TB the train side is the big one and
    the test side broadcasts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    p = _pct(F.col("doc_id"), "split")
    assigned = corpus.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.when(p < 80, "train").when(p < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    test = assigned.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "text_hash"
    )
    train = assigned.filter(F.col("split") == "train").select("text_hash")
    return (
        test.join(train, "text_hash")
        .groupBy("test_doc_id")
        .agg(F.count(F.lit(1)).alias("n_train_copies"))
    )


@query(
    "dedup_contamination_ngram",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM read_parquet('{{sf}}/documents.parquet')
      UNION ALL
      SELECT -(doc_id + 1), text
      FROM read_parquet('{{sf}}/documents.parquet') WHERE doc_id % 25 = 0
    ), assigned AS (
      SELECT doc_id,
             CASE WHEN {_pct_sql('doc_id', 'split')} < 80 THEN 'train'
                  WHEN {_pct_sql('doc_id', 'split')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             regexp_split_to_array(lower(text), '\\s+') AS w
      FROM corpus
    ), grams AS (
      SELECT doc_id, split,
             unnest(list_transform(
               generate_series(1, greatest(len(w) - 12, 0)),
               i -> array_to_string(list_slice(w, i, i + 12), ' '))) AS g
      FROM assigned
    ), tg AS (
      SELECT DISTINCT doc_id, g FROM grams WHERE split = 'test'
    ), trg AS (
      SELECT DISTINCT g FROM grams WHERE split = 'train'
    )
    SELECT tg.doc_id AS test_doc_id, count(*) AS n_shared_13grams
    FROM tg JOIN trg USING (g)
    GROUP BY tg.doc_id
    """,
    tags=("pipeline", "dedup-ngram", "contamination"),
)
def dedup_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram overlap decontamination (the GPT-3/PaLM standard):
    test-split documents sharing ANY 13-token span with a train
    document, with the count of distinct shared grams — catches
    paraphrase-wrapped and partially-quoted leakage that exact-text
    matching (dedup_contamination) misses. Same planted-duplicate split
    fixture. Shape: explode distinct 13-grams per side, inverted-index
    equi-join on the gram, count per test doc — one shuffle keyed by
    gram; at 100 TB the train gram set is the big leg and the standard
    cheapening is a bloom filter built from the (small) test-side grams
    pushed into the train scan, which Spark's runtime bloom-filter join
    already approximates for selective joins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    p = _pct(F.col("doc_id"), "split")
    split = F.when(p < 80, "train").when(p < 90, "val").otherwise("test")
    w = F.split(F.lower(F.col("text")), "\\s+")
    assigned = corpus.select("doc_id", split.alias("split"), w.alias("w"))
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    # generate_series(1, 0) is empty — docs shorter than the gram width
    # need an explicit empty-index guard
    idx = F.when(
        F.size("w") >= 13, F.sequence(F.lit(1), F.size("w") - 12)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("w"), i, F.lit(13)), " ")
    )
    exploded = assigned.select(
        "doc_id", "split", F.explode(grams).alias("g")
    )
    tg = (
        exploded.filter(F.col("split") == "test")
        .select("doc_id", "g")
        .distinct()
    )
    trg = (
        exploded.filter(F.col("split") == "train").select("g").distinct()
    )
    return (
        tg.join(trg, "g")
        .groupBy(F.col("doc_id").alias("test_doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_13grams"))
    )


@query(
    "pipe_dataset_card",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, text, md5(text) AS h,
             len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tok
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) / count(*)
             AS mean_tokens_per_doc,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens
    FROM docs
    """,
    tags=("pipeline", "reporting", "dataset-card"),
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the headline numbers every corpus release
    ships (doc/source counts, exact-dup volume, token totals and
    spread). ONE scan, one aggregation — the two count(DISTINCT)s
    expand to Spark's standard partial-distinct plan; at open-web scale
    swap approx_count_distinct for the text-hash distinct (the source
    distinct is tiny either way) and keep the rest exact. Token counts
    are integers end-to-end; the mean is one IEEE division."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(
            F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
        )
    ).cast("bigint")
    d = docs.select(
        "doc_id", "source", F.md5("text").alias("h"), n_tok.alias("n_tok")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        (
            F.sum("n_tok").cast("bigint").cast("double") / F.count(F.lit(1))
        ).alias("mean_tokens_per_doc"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


@query(
    "pipe_gate_ablation",
    oracle="""
    WITH gates AS (
      SELECT CASE WHEN n_chars BETWEEN 200 AND 8000
                  THEN 'pass' ELSE 'fail' END AS len_gate,
             CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 30
                  THEN 'pass' ELSE 'fail' END AS word_gate,
             CASE WHEN len(regexp_extract_all(text, '[0-9]')) * 5 < n_chars
                  THEN 'pass' ELSE 'fail' END AS digit_gate,
             CASE WHEN len(regexp_extract_all(text, '[A-Z]')) * 10 < n_chars
                  THEN 'pass' ELSE 'fail' END AS upper_gate
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT len_gate, word_gate, digit_gate, upper_gate,
           grouping(len_gate) * 8 + grouping(word_gate) * 4
             + grouping(digit_gate) * 2 + grouping(upper_gate) AS gid,
           count(*) AS n_docs
    FROM gates
    GROUP BY CUBE (len_gate, word_gate, digit_gate, upper_gate)
    """,
    tags=("pipeline", "quality", "A8", "ablation"),
)
def pipe_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ABLATION MATRIX: document counts under every
    combination of four corpus filters (length window, min word count,
    digit-density cap, uppercase-density cap) in ONE scan — the 'which
    gate is actually removing my data, and do gates overlap' diagnostic
    every filtering pipeline needs before committing to a recipe. The
    CUBE expands map-side (a11_grouping_sets' single-shuffle Expand
    shape, here over 2⁴ gate subsets); each gate is an integer
    cross-multiplied predicate (digits·5 < chars is the exact form of
    'digit fraction < 20%' — no float division anywhere), and
    grouping_id disambiguates rolled-up NULLs from data. The full-pass
    cell (all four 'pass', gid 0) is the corpus pipe_training_prep
    would keep under these gates."""
    docs = load_table(spark, sf_dir, "documents")
    gate = lambda c: F.when(c, "pass").otherwise("fail")  # noqa: E731
    gates = docs.select(
        gate(F.col("n_chars").between(200, 8000)).alias("len_gate"),
        gate(
            F.size(F.split(F.trim(F.col("text")), "\\s+")) >= 30
        ).alias("word_gate"),
        gate(
            F.regexp_count(F.col("text"), F.lit("[0-9]")) * 5
            < F.col("n_chars")
        ).alias("digit_gate"),
        gate(
            F.regexp_count(F.col("text"), F.lit("[A-Z]")) * 10
            < F.col("n_chars")
        ).alias("upper_gate"),
    )
    return (
        gates.cube("len_gate", "word_gate", "digit_gate", "upper_gate")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "len_gate", "word_gate", "digit_gate", "upper_gate",
            "gid", "n_docs",
        )
    )


@query(
    "pipe_curriculum_order",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS leg
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS difficulty,
           CAST(leg AS BIGINT) AS leg,
           CAST(row_number() OVER (ORDER BY leg, source) AS BIGINT)
             AS curriculum_rank
    FROM ranked
    """,
    tags=("pipeline", "curriculum", "ordering", "W3"),
)
def pipe_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved CURRICULUM ordering: within each source, docs
    rank easiest-first (length as the difficulty proxy); globally, the
    corpus reads leg by leg — every source's easiest doc, then every
    source's second-easiest, round-robin — the balanced-mixing order
    curriculum training and source-stratified streaming both want. The
    oracle states it as the naive global `row_number() OVER (ORDER BY
    leg, source)` — a single-partition whole-corpus sort. The Spark
    plan DECOMPOSES that rank exactly (the exact_ntile discipline
    applied to interleaving; operators/ranking.interleave_rank): rank =
    Σ_{k<leg} c(k) [docs on earlier legs — an exclusive cumsum over the
    per-leg-counts frame, itself computed with the coarse-bucket
    decomposition: in-bucket windows + an O(buckets²) broadcast offset
    self-join] + row_number() OVER (PARTITION BY leg ORDER BY source)
    [earlier sources on my own leg — each leg holds ≤ one row per
    source, so window partitions are source-count-bounded]. No
    unpartitioned window and no corpus- or leg-frame-sized broadcast
    anywhere; the final offset join keys on the same leg column the
    in-leg window partitioned by. Property-pinned equal to the naive
    sort, including the multi-bucket offset branch."""
    from ..operators.ranking import interleave_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("difficulty")
    )
    return interleave_rank(
        docs,
        group_col="source",
        order_cols=["difficulty", "doc_id"],
        out_col="curriculum_rank",
    ).select("doc_id", "source", "difficulty", "leg", "curriculum_rank")


@query(
    "pipe_sgd_linear_step",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), tfb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('sgd:' || token), 1, 8)) AS BIGINT)
               % 16 AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ), w0t AS (
      SELECT bucket,
             CAST(('0x' || substr(md5('w0:' || CAST(bucket AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 7 - 3 AS w0
      FROM (SELECT DISTINCT bucket FROM tfb)
    ), pred AS (
      SELECT tfb.doc_id, tfb.bucket, tfb.tf,
             sum(tfb.tf * w0t.w0) OVER (PARTITION BY tfb.doc_id) AS pred
      FROM tfb JOIN w0t USING (bucket)
    ), resid AS (
      SELECT p.doc_id, p.bucket, p.tf,
             CAST(p.pred - d.n_chars AS BIGINT) AS resid
      FROM pred p
      JOIN read_parquet('{sf}/documents.parquet') d ON d.doc_id = p.doc_id
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tfb
    ), grad AS (
      SELECT bucket, CAST(sum(tf * resid) AS BIGINT) AS grad_sum
      FROM resid GROUP BY bucket
    )
    SELECT g.bucket, w0t.w0, g.grad_sum, n.n_docs,
           CAST(w0t.w0 * 1048576
                - (CASE WHEN g.grad_sum >= 0
                        THEN (g.grad_sum * 1024) // n.n_docs
                        ELSE -((-g.grad_sum * 1024) // n.n_docs) END)
                AS BIGINT) AS w1_q,
           CAST(w0t.w0 * 1048576
                - (CASE WHEN g.grad_sum >= 0
                        THEN (g.grad_sum * 1024) // n.n_docs
                        ELSE -((-g.grad_sum * 1024) // n.n_docs) END)
                AS DOUBLE) / 1048576.0 AS w1
    FROM grad g JOIN w0t USING (bucket), n
    """,
    tags=("pipeline", "sgd", "linear-model", "ml-step"),
)
def pipe_sgd_linear_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE exact gradient-descent step of a linear model over
    hashing-trick features — the distributed shape of every
    data-parallel training loop (parameter-server / allreduce SGD):
    predict with broadcast weights, residual against the target
    (n_chars), then ONE map-side-combinable groupBy(bucket) reduces the
    gradient to K=16 numbers. Like pipe_kmeans_step, the LOOP belongs
    to the driver; the per-step dataflow is what must scale. Weights
    and gradients stay on exact integer grids: w0 is a deterministic
    hash-derived int in [-3,3], the gradient is an exact bigint sum of
    tf*resid, and the update w1 = w0 - 2^-10 * grad/n_docs is staged as
    w1_q = w0*2^20 - signsplit_div(grad*2^10, n_docs) (truncating div
    on sign-split operands — the ts_zipf_fit discipline, since
    residuals go negative). Plan: tf groups on (doc,bucket) [exchange
    1]; the per-doc prediction is a window sum over doc_id [exchange
    2, REUSED by the doc-keyed target join and the exchange-free
    distinct-doc count]; the gradient groupBy collapses to 16 rows with
    map-side partial aggregation [exchange 3, 16 keys]. At 100 TB the
    gradient frame is K rows regardless of corpus size — the reduce is
    bandwidth-bound on nothing."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    tfb = tok.groupBy(
        "doc_id",
        (hash32(F.concat(F.lit("sgd:"), F.col("token"))) % 16).alias(
            "bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("tf"))
    w0 = (
        hash32(F.concat(F.lit("w0:"), F.col("bucket").cast("string"))) % 7
        - 3
    ).alias("w0")
    pred = tfb.withColumn("w0", w0).withColumn(
        "pred",
        F.sum(F.col("tf") * F.col("w0")).over(W.partitionBy("doc_id")),
    )
    resid = pred.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).withColumn("resid", (F.col("pred") - F.col("n_chars")).cast("bigint"))
    n_docs = (
        tfb.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_k"))
        .agg(F.count(F.lit(1)).cast("bigint"))
        .scalar()
    )
    grad = resid.groupBy("bucket", "w0").agg(
        F.sum(F.col("tf") * F.col("resid")).cast("bigint").alias("grad_sum")
    )
    upd = F.expr(
        "cast(w0 * 1048576 - (case when grad_sum >= 0"
        " then (grad_sum * 1024) div n_docs"
        " else -((-grad_sum * 1024) div n_docs) end) as bigint)"
    )
    return (
        grad.withColumn("n_docs", n_docs)
        .withColumn("w1_q", upd)
        .select(
            "bucket",
            "w0",
            "grad_sum",
            "n_docs",
            "w1_q",
            (F.col("w1_q").cast("double") / F.lit(1048576.0)).alias("w1"),
        )
    )


@query(
    "pipe_token_budget_allocation",
    oracle="""
    WITH docs AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text),
                                                        '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS toks,
             CASE WHEN n_chars BETWEEN 200 AND 2000 THEN 1 ELSE 0 END
               AS good
      FROM read_parquet('{sf}/documents.parquet')
    ), src AS (
      SELECT source,
             CAST(sum(toks) AS BIGINT) AS tokens,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST((sum(good) * 1048576) // count(*) AS BIGINT)
               AS quality_q
      FROM docs GROUP BY source
    ), tot AS (
      SELECT CAST((sum(tokens) * 2) // 5 AS BIGINT) AS budget FROM src
    ), ordered AS (
      SELECT source, tokens, n_docs, quality_q, budget,
             CAST(row_number() OVER (ORDER BY quality_q DESC, source)
                  AS BIGINT) AS fill_order,
             CAST(coalesce(sum(tokens) OVER (
                    ORDER BY quality_q DESC, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS cum_before
      FROM src, tot
    )
    SELECT source, tokens, n_docs, quality_q, fill_order,
           CAST(greatest(0, least(tokens, budget - cum_before))
                AS BIGINT) AS allocated
    FROM ordered
    """,
    tags=("pipeline", "mixture", "budget", "knapsack"),
)
def pipe_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture allocation: spend a 40%-of-corpus token
    budget across sources by QUALITY-GREEDY fractional knapsack — the
    deterministic skeleton of data-mixture tuning (the knob DoReMi /
    heuristic mixture weighting turns): sources ranked by an exact
    quality share (fraction of docs in the 200-2000-char sweet spot,
    on the 2^20 grid), then each takes min(its tokens, remaining
    budget) in rank order — for fractional allocation greedy-by-
    density IS optimal, so this is the exact optimum, not a
    heuristic. The whole decision is one prefix-sum window over the
    SOURCE-CARDINALITY frame (catalog-bounded, the quota-window
    allowlist argument) after a map-side-combinable per-source
    reduction — corpus-sized work is the one token-count scan.
    Re-run-stable: allocation depends only on exact integer
    aggregates, so backfills reproduce the identical mixture;
    sample_epoch_mixture / sample_temperature_mix then realize the
    allocation row-level with their hash gates."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).cast("bigint").alias("toks"),
        F.when(F.col("n_chars").between(200, 2000), 1)
        .otherwise(0)
        .alias("good"),
    )
    src = docs.groupBy("source").agg(
        F.sum("toks").cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("cast((sum(good) * 1048576) div count(*) as bigint)").alias(
            "quality_q"
        ),
    )
    budget = src.agg(F.expr("cast((sum(tokens) * 2) div 5 as bigint)")).scalar()
    wq = W.orderBy(F.desc("quality_q"), F.asc("source"))
    wcum = wq.rowsBetween(W.unboundedPreceding, -1)
    ordered = src.select(
        "source",
        "tokens",
        "n_docs",
        "quality_q",
        budget.alias("budget"),
        F.row_number().over(wq).cast("bigint").alias("fill_order"),
        F.coalesce(F.sum("tokens").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    return ordered.select(
        "source",
        "tokens",
        "n_docs",
        "quality_q",
        "fill_order",
        F.greatest(
            F.lit(0),
            F.least(F.col("tokens"), F.col("budget") - F.col("cum_before")),
        )
        .cast("bigint")
        .alias("allocated"),
    )
