"""Text-analysis operators for training-data pipelines (north-star
extension — BASELINE.json: language-ID, quality scoring, token counting,
document fingerprinting over the documents table).

All native column expressions; scores are arithmetic over integer counts
(engine-reproducible doubles, no rounding needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.dedup import hash32
from ..operators.sketches import DIGEST_DELTA, DIGEST_DELTA2
from ..sources import fan_out, load_table
from .registry import query

# stopword alternations per language (n-gram heuristic lang-ID; the corpus
# is synthetic so the interesting part is the deterministic scoring+argmax)
_LANG_STOPWORDS = {
    "en": "the|a|of|and|to|in|is|for",
    "es": "el|la|de|y|que|los|por|un",
    "de": "der|die|das|und|ist|von|mit|den",
    "fr": "le|la|les|et|des|en|une|du",
}


def _score(lang: str):
    pat = f"\\b({_LANG_STOPWORDS[lang]})\\b"
    return F.regexp_count(F.lower(F.col("text")), F.lit(pat))


@query(
    "ts_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|for)\\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\\b(el|la|de|y|que|los|por|un)\\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|von|mit|den)\\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des|en|une|du)\\b')) AS s_fr
      FROM read_parquet('{sf}/documents.parquet')
    ), pred AS (
      SELECT doc_id, lang,
             CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                  WHEN s_de >= s_fr THEN 'de'
                  ELSE 'fr' END AS predicted
      FROM scored
    )
    SELECT lang, predicted, count(*) AS n FROM pred GROUP BY lang, predicted
    """,
    tags=("text-langid",),
)
def ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with deterministic priority argmax
    (en > es > de > fr on ties), confusion-matrix output."""
    docs = load_table(spark, sf_dir, "documents")
    s = {lang: _score(lang) for lang in _LANG_STOPWORDS}
    predicted = (
        F.when(
            (s["en"] == 0) & (s["es"] == 0) & (s["de"] == 0) & (s["fr"] == 0),
            "unknown",
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return (
        docs.select("doc_id", "lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "ts_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_ish_tokens
    FROM read_parquet('{sf}/documents.parquet')
    """,
    tags=("text-tokens",),
)
def ts_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single punctuation) — the pretokenizer
    shape GPT-style BPE vocabularies assume."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+")).alias("ws_tokens"),
        F.regexp_count(
            F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
        ).alias("bpe_ish_tokens"),
    )


@query(
    "ts_quality_score",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             length(replace(text, ' ', '')) AS chars,
             len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|for)\\b')) AS stop_cnt,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT doc_id, wc,
           least(1.0,
               0.4 * least(wc / 100.0, 1.0)
             + 0.3 * least((CAST(chars AS DOUBLE) / wc) / 8.0, 1.0)
             + 0.2 * least(stop_cnt * 10.0 / wc, 1.0)
             + 0.1 * (CASE WHEN punct_cnt * 1.0 / wc < 0.2 THEN 1.0 ELSE 0.0 END)
           ) AS quality_score
    FROM m
    """,
    tags=("text-quality",),
)
def ts_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score: length, avg word length, stopword
    density, punctuation ratio — the C4/Gopher-style cheap filter battery
    as one column expression."""
    docs = load_table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    chars = F.length(F.regexp_replace(F.col("text"), " ", ""))
    stop_cnt = _score("en")
    punct_cnt = F.regexp_count(F.col("text"), F.lit("[^A-Za-z0-9\\s]"))
    score = F.least(
        F.lit(1.0),
        0.4 * F.least(wc / 100.0, F.lit(1.0))
        + 0.3 * F.least((chars.cast("double") / wc) / 8.0, F.lit(1.0))
        + 0.2 * F.least(stop_cnt * 10.0 / wc, F.lit(1.0))
        + 0.1 * F.when(punct_cnt * 1.0 / wc < 0.2, 1.0).otherwise(0.0),
    )
    return docs.select("doc_id", wc.alias("wc"), score.alias("quality_score"))


@query(
    "ts_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))), ' ')) AS fingerprint
    FROM read_parquet('{sf}/documents.parquet')
    """,
    tags=("text-fingerprint",),
)
def ts_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    vocabulary — catches shuffled/reordered duplicates that exact hashing
    misses and MinHash only scores."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), "\\s+"))), " "
    )
    return docs.select("doc_id", F.md5(vocab).alias("fingerprint"))


@query(
    "ts_vocab_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), counted AS (
      SELECT token, count(*) AS n FROM tok GROUP BY token
    )
    SELECT token, n FROM counted
    ORDER BY n DESC, token LIMIT 100
    """,
    tags=("text-vocab", "W3"),
)
def ts_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: token frequencies, top-100 with a
    deterministic (count desc, token asc) tiebreak — the first step of
    any tokenizer/vocab build. Explode → groupBy is one shuffle on the
    token (Zipf-skewed, but partial map-side aggregation collapses the
    heavy head before the exchange); ORDER BY + LIMIT plans as
    TakeOrderedAndProject (per-partition heaps), never a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


@query(
    "ts_chunking",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM read_parquet('{sf}/documents.parquet')
    ), chunks AS (
      SELECT doc_id,
             unnest(generate_series(1, len(words), 48)) AS start,
             words
      FROM w
    )
    SELECT doc_id, CAST((start - 1) / 48 AS BIGINT) AS chunk_id,
           len(list_slice(words, start, start + 63)) AS n_tokens,
           md5(array_to_string(list_slice(words, start, start + 63), ' '))
             AS chunk_md5
    FROM chunks
    """,
    tags=("text-chunking", "pipeline"),
)
def ts_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride 48 →
    16-token overlap) — how long documents become training sequences.
    One narrow explode per doc, chunk ids stable under re-runs, chunk
    text pinned by md5. No shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), "\\s+")
    staged = docs.select("doc_id", words.alias("words"))
    starts = F.sequence(F.lit(1), F.size("words"), F.lit(48))
    chunks = staged.select(
        "doc_id", F.explode(starts).alias("start"), "words"
    )
    chunk = F.slice(F.col("words"), F.col("start"), 64)
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / 48).cast("bigint").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "ts_repetition_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM read_parquet('{sf}/documents.parquet')
    ), grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                            i -> words[i] || ' ' || words[i+1] || ' '
                                 || words[i+2]) AS g
      FROM w
    )
    SELECT doc_id, len(g) AS n_grams,
           CASE WHEN len(g) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
           END AS rep_ratio,
           (len(g) > 0 AND
            1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) > 0.2)
             AS is_repetitive
    FROM grams
    """,
    tags=("text-quality", "pipeline"),
)
def ts_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition screen: duplicated-3-gram
    fraction per doc, flagging docs above 20% — the filter that removes
    boilerplate/spam before near-dup dedup ever runs. Entirely map-side
    array ops (no explode, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), "\\s+")
    staged = docs.select("doc_id", words.alias("w"))
    n = F.size("w")
    # guard: Spark's sequence(1, 0) descends ([1, 0]) where DuckDB's
    # generate_series(1, 0) is empty — 1-2-word docs must yield no grams
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at(F.col("w"), i),
        F.element_at(F.col("w"), i + 1),
        F.element_at(F.col("w"), i + 2),
    )
    g = F.transform(idx, gram)
    ng = F.size(g)
    rep = F.when(ng == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(g)).cast("double") / ng
    )
    return staged.select(
        "doc_id",
        ng.alias("n_grams"),
        rep.alias("rep_ratio"),
        ((ng > 0) & (rep > 0.2)).alias("is_repetitive"),
    )


@query(
    "ts_source_mix",
    oracle="""
    WITH m AS (
      SELECT source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             md5(text) AS h
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(wc) AS BIGINT) AS n_tokens,
           count(DISTINCT h) AS n_distinct_texts,
           CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*)
             AS dup_rate
    FROM m GROUP BY source
    """,
    tags=("text-mix", "pipeline"),
)
def ts_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-composition report — the table a mixture-weighting
    decision reads (docs / tokens / exact-dup rate per source, the
    RefinedWeb/Dolma-style source audit). All outputs are integer sums or
    ratios of two exact integers, so the doubles are engine-reproducible.
    One hash-groupBy on a low-cardinality key with map-side partials;
    count(DISTINCT h) rewrites to a two-stage exact-distinct aggregate —
    both scale flat at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    m = docs.select("source", wc.alias("wc"), F.md5("text").alias("h"))
    n = F.count(F.lit(1))
    d = F.count_distinct(F.col("h"))
    return m.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("wc").alias("n_tokens"),
        d.alias("n_distinct_texts"),
        ((n - d).cast("double") / n).alias("dup_rate"),
    )


@query(
    "ts_seq_packing",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS bucket
      FROM read_parquet('{sf}/documents.parquet')
    ), c AS (
      SELECT bucket, doc_id, wc,
             sum(wc) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM m
    )
    SELECT bucket,
           CAST(floor(CAST(cum - wc AS DOUBLE) / 2048.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(wc) AS BIGINT) AS n_tokens
    FROM c
    GROUP BY bucket, seq_id
    """,
    tags=("text-packing", "pipeline"),
)
def ts_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-chunk sequence packing: documents are streamed in
    deterministic doc_id order within a hash bucket, their token counts
    accumulated, and each doc is assigned to the 2048-token training
    sequence containing its first token — the packing step that turns a
    cleaned corpus into fixed-length samples. Packing is per-bucket, so
    the only shuffle is one hash partition on the bucket key and the
    running sum never sees a global window; bucket count scales with the
    cluster (16 here, thousands at 100 TB), and the assignment is
    re-run-stable because order and hash are both deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    bucket = (
        hash32(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) % 16
    )
    m = docs.select(
        "doc_id", wc.alias("wc"), bucket.alias("bucket")
    )
    w = W.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = m.select(
        "bucket", "wc", F.sum("wc").over(w).alias("cum")
    )
    seq_id = F.floor((F.col("cum") - F.col("wc")).cast("double") / 2048.0)
    return (
        c.select("bucket", seq_id.cast("bigint").alias("seq_id"), "wc")
        .groupBy("bucket", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wc").alias("n_tokens"),
        )
    )


@query(
    "ts_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
            FROM read_parquet('{sf}/documents.parquet'))
      WHERE w <> ''
    ), counts AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), totals AS (
      SELECT sum(c) AS n, count(*) AS v FROM counts
    ), scored AS (
      SELECT t.doc_id,
             -ln((c.c + 1) / (CAST(tt.n AS DOUBLE) + tt.v)) AS nll
      FROM tok t JOIN counts c ON c.w = t.w CROSS JOIN totals tt
    )
    SELECT doc_id,
           round(CAST(sum(CAST(nll AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 8) AS avg_nll,
           count(*) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
    tags=("textstats", "quality", "lm-filter"),
)
def ts_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-one-smoothed unigram LM — the CCNet/Gopher-style perplexity
    proxy for training-data quality filtering (high avg_nll = rare-token
    soup; low = repetitive boilerplate). Two shuffles (word counts, then
    doc re-aggregation); the count table joins back onto tokens by word —
    skew-safe because Zipf-head words are a handful of HOT KEYS whose
    rows AQE splits, and the per-row payload is one double. The corpus
    totals are scalar subqueries. Decimal accumulation + fixed ln inputs
    keep the doc means bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).select(F.struct("*")).scalar()
    scored = (
        tok.join(counts, "w")
        .withColumn("totals", totals)
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("c") + 1)
                    / (F.col("totals.n").cast("double") + F.col("totals.v"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("nll").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("avg_nll"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query(
    "ts_dedup_lines",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'alpha beta gamma|' || substr(text, 1, 60)
               || '|alpha beta gamma|' || substr(text, 1, 60)
               || '|unique tail ' || CAST(doc_id AS VARCHAR) AS t
      FROM read_parquet('{sf}/documents.parquet')
    ), parts AS (
      SELECT doc_id, string_split(t, '|') AS p FROM aug
    ), seg AS (
      SELECT doc_id, p[i] AS seg, i AS ord
      FROM parts, UNNEST(generate_series(1, len(p))) AS g(i)
    ), ranked AS (
      SELECT doc_id, seg, ord,
             row_number() OVER (PARTITION BY doc_id, seg ORDER BY ord) AS rn
      FROM seg
    )
    SELECT doc_id,
           count(*) FILTER (WHERE rn = 1) AS n_unique,
           count(*) AS n_lines,
           string_agg(seg, '|' ORDER BY ord) FILTER (WHERE rn = 1) AS cleaned
    FROM ranked GROUP BY doc_id
    """,
    tags=("textstats", "cleaning", "dedup-exact"),
)
def ts_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal, keeping each line's FIRST
    occurrence in original order — the C4/RefinedWeb cleaning step that
    strips boilerplate navigation/footer repeats inside one document.
    (Injected duplicate segments prove collapses happen.) Entirely
    per-document: explode → first-occurrence rank inside the (doc, line)
    partition → ordered re-join. ONE shuffle on doc_id; at corpus scale
    the partition key is the doc, so no global state and no skew beyond
    document length itself."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.lit("alpha beta gamma|"),
        F.substring("text", 1, 60),
        F.lit("|alpha beta gamma|"),
        F.substring("text", 1, 60),
        F.lit("|unique tail "),
        F.col("doc_id").cast("string"),
    )
    seg = docs.select(
        "doc_id", F.posexplode(F.split(t, "\\|")).alias("ord0", "seg")
    ).select("doc_id", (F.col("ord0") + 1).alias("ord"), "seg")
    w = W.partitionBy("doc_id", "seg").orderBy("ord")
    ranked = seg.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") == 1)
    return (
        ranked.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .join(
            kept.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_unique"),
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ord", "seg"))),
                        lambda s: s["seg"],
                    ),
                ).alias("cleaned"),
            ),
            "doc_id",
        )
        .select("doc_id", "n_unique", "n_lines", "cleaned")
    )


@query(
    "ts_pmi_bigrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id, w, i
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(text), '\\s+') AS ws
            FROM read_parquet('{sf}/documents.parquet')),
           UNNEST(generate_series(1, len(ws))) AS g(i),
           LATERAL (SELECT ws[i] AS w)
      WHERE w <> ''
    ), uni AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), tot AS (
      SELECT sum(c) AS n FROM uni
    ), big AS (
      SELECT a.w AS w1, b.w AS w2, count(*) AS c12
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      GROUP BY a.w, b.w
      HAVING count(*) >= 5
    ), pmi AS (
      SELECT big.w1, big.w2, big.c12,
             round(ln((big.c12 * t.n)
                      / (CAST(u1.c AS DOUBLE) * u2.c)), 8) AS pmi
      FROM big
      JOIN uni u1 ON u1.w = big.w1
      JOIN uni u2 ON u2.w = big.w2
      CROSS JOIN tot t
    )
    SELECT w1, w2, c12, pmi
    FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
          FROM pmi)
    WHERE rk <= 50
    """,
    tags=("textstats", "collocation"),
)
def ts_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information
    (min count 5) — the corpus-analysis pass that surfaces multiword
    expressions for tokenizer audits and boilerplate discovery. Bigrams
    come from a positional self-join ON (doc, i+1) — at corpus scale
    this is the posexplode+shift pattern, one shuffle keyed by doc;
    unigram counts re-join by word (Zipf-head keys are AQE-splittable),
    the total is a scalar subquery, and the final top-50 is
    TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), "\\s+")).alias("i", "w"),
        )
        .filter(F.col("w") != "")
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.sum("c")).scalar()
    a = tok.select("doc_id", "i", F.col("w").alias("w1"))
    b = tok.select(
        "doc_id", (F.col("i") - 1).alias("i"), F.col("w").alias("w2")
    )
    big = (
        a.join(b, ["doc_id", "i"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    pmi = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") * n)
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                8,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), "w1", "w2").limit(50)


@query(
    "ts_bigram_novelty",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
      FROM read_parquet('{sf}/documents.parquet')
    ), bg AS (
      SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] AS bigram
      FROM w, unnest(generate_series(1, greatest(len(words) - 1, 0))) AS t(i)
    ), df AS (
      SELECT bigram, count(*) AS df FROM bg GROUP BY bigram
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE) AS novelty
    FROM bg b JOIN df d ON d.bigram = b.bigram
    GROUP BY b.doc_id
    """,
    tags=("text-quality", "dedup-jaccard"),
)
def ts_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram NOVELTY: the fraction of a doc's distinct
    bigrams appearing in no other document (corpus df = 1). Low novelty
    = boilerplate/template text — the cheap corpus-level complement to
    pairwise dedup, and a standard pretraining quality gate (a doc whose
    phrasing is mostly shared is a dedup candidate even when no single
    pair crosses a Jaccard threshold). Plan: one narrow bigram explode
    (zip of two shifted slices — single pass, no self-join), distinct on
    (doc, bigram), df aggregation on the bigram key (uniform: capped by
    vocabulary², and hot boilerplate bigrams partial-aggregate map-side),
    then a key join back and per-doc integer ratios. Novelty is an
    integer quotient — engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), "\\s+")
    nw = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(nw - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(nw - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .distinct()
    )
    df = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    return (
        bg.join(df, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_unique"
            ),
            (
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double")
            ).alias("novelty"),
        )
    )


@query(
    "ts_accent_fold",
    oracle="""
    WITH accented AS (
      SELECT doc_id,
             replace(replace(replace(substr(text, 1, 120),
                     'e', 'é'), 'u', 'ü'), 'n', 'ñ') AS t
      FROM read_parquet('{sf}/documents.parquet')
      WHERE doc_id % 4 = 0
    )
    SELECT doc_id, strip_accents(t) AS folded,
           length(t) AS n_chars
    FROM accented
    """,
    tags=("text-clean", "udf"),
)
def ts_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode accent folding (NFD + combining-mark strip) — the
    normalization step multilingual pretraining corpora run before
    hashing/dedup so 'café' and 'cafe' collide. Spark has NO built-in
    unicode normalizer, so this is a legitimate Arrow pandas-UDF hot
    path (vectorized unicodedata over whole batches — never per-row
    Python). Accents are injected deterministically (char translate on a
    120-char prefix of every 4th doc) so the oracle can replay byte-for-
    byte with DuckDB's strip_accents, which matches NFD+drop-Mn on Latin
    text. Zero shuffles — pure map-side."""
    import unicodedata

    from pyspark.sql.types import StringType

    def _fold_series(s):
        def fold(x):
            if x is None:
                return None
            nfd = unicodedata.normalize("NFD", x)
            return "".join(
                c for c in nfd if unicodedata.category(c) != "Mn"
            )

        return s.map(fold)

    # NB: `from __future__ import annotations` stringifies type hints, so
    # the hint-based pandas_udf signature can't be used in this module —
    # give the iterator protocol explicitly via the legacy form
    strip_accents = F.pandas_udf(_fold_series, StringType())

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    t = F.translate(F.substring("text", 1, 120), "eun", "éüñ")
    return docs.select(
        "doc_id",
        strip_accents(t).alias("folded"),
        F.length(t).alias("n_chars"),
    )


# Natural log is NOT guaranteed bit-identical across engines (Java
# Math.log vs DuckDB libm may differ in the last ULP), so idf quantizes
# to a binary grid: round(ln·2^20) — a 1-ULP input divergence flips the
# grid cell only when ln sits within ~2^-32 of a boundary, and the ~1e4
# distinct df values here make a collision astronomically unlikely
# (same technique as ts_unigram_logprob's decimal staging, but exact
# power-of-two arithmetic instead of a decimal cast).
_IDF_GRID = 1 << 20


@query(
    "ts_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{{sf}}/documents.parquet')
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT count(*) AS n_docs FROM read_parquet('{{sf}}/documents.parquet')
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             tf.tf * CAST(round(ln(n.n_docs / df.df) * {_IDF_GRID})
                          AS BIGINT) AS score_q
      FROM tf JOIN df ON df.token = tf.token, n
    ), ranked AS (
      SELECT doc_id, token, tf, score_q,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_q DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, token, tf, score_q,
           CAST(score_q AS DOUBLE) / {_IDF_GRID}.0 AS tfidf
    FROM ranked WHERE rk <= 5
    """,
    tags=("text-tfidf", "W3", "pipeline"),
)
def ts_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the classic keyword/topic
    signal for corpus curation and near-dup triage. Three shuffles, all
    on bounded keys: tf groups on (doc, token) with map-side partial
    aggregation; df re-groups tf's output on token (vocabulary-sized);
    the scored join broadcasts df (a vocabulary fits any executor —
    ~1e6 terms × 16 B; at web scale cap it with a min-df prune). The
    per-doc top-5 window partitions by doc_id — millions of small
    partitions, never a global sort. idf = ln(N/df) quantized to a
    2^-20 binary grid so the integer score tf·q(idf) is bit-stable
    cross-engine; ties break on the token string."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy(F.col("token").alias("df_token")).agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1))).scalar()
    qidf = F.round(F.log(n_docs / F.col("df")) * F.lit(_IDF_GRID)).cast("bigint")
    scored = tf.join(F.broadcast(df), F.col("df_token") == F.col("token")).select(
        "doc_id", "token", "tf", (F.col("tf") * qidf).alias("score_q")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "doc_id",
            "token",
            "tf",
            "score_q",
            (F.col("score_q").cast("double") / F.lit(float(_IDF_GRID))).alias(
                "tfidf"
            ),
        )
    )


@query(
    "ts_feature_hashing",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024
             AS bucket,
           count(*) AS tf
    FROM tok WHERE token <> ''
    GROUP BY doc_id, bucket
    """,
    tags=("text-features", "pipeline"),
)
def ts_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words featurization: tokens fold into 1024
    hash buckets per document — the fixed-width sparse features that
    feed linear quality classifiers (fastText-style filters) without a
    vocabulary build or a second pass. One narrow explode + one shuffle
    on (doc_id, bucket) with map-side partial counts; the bucket space
    is constant so the feature schema never drifts as the corpus grows.
    Portable md5 bucket (operators/dedup.hash32 twin); production would
    swap xxhash64 via the same backend flag as the dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    return tok.groupBy(
        "doc_id", (hash32(F.col("token")) % 1024).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tf"))


@query(
    "ts_dedup_lines_global",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'alpha beta gamma|' || substr(text, 1, 60)
               || '|unique tail ' || CAST(doc_id AS VARCHAR) AS t
      FROM read_parquet('{sf}/documents.parquet')
    ), parts AS (
      SELECT doc_id, string_split(t, '|') AS p FROM aug
    ), seg AS (
      SELECT doc_id, p[i] AS seg, i AS ord
      FROM parts, UNNEST(generate_series(1, len(p))) AS g(i)
    ), ranked AS (
      SELECT doc_id, seg, ord,
             row_number() OVER (PARTITION BY seg
                                ORDER BY doc_id, ord) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) AS BIGINT) AS n_lines,
           string_agg(seg, '|' ORDER BY ord) FILTER (WHERE rn = 1)
             AS cleaned
    FROM ranked GROUP BY doc_id
    """,
    tags=("textstats", "cleaning", "dedup-exact", "c4"),
)
def ts_dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORPUS line dedup (the C4 rule): a line occurring in more
    than one document survives only at its first (doc_id, position)
    occurrence and is dropped everywhere else — this is what strips
    boilerplate headers/footers that intra-document dedup
    (ts_dedup_lines) cannot see. Synthetic lines ('alpha beta gamma'
    planted in EVERY doc + a 60-char prefix shared by injected dup
    docs + a per-doc unique tail) prove all three behaviors: global
    boilerplate keeps exactly one copy corpus-wide, dup-doc prefixes
    keep one, unique tails all survive. Plan: explode lines (narrow),
    ONE shuffle on the line text for the global first-occurrence
    window, one doc_id re-group. Boilerplate lines are hot keys BY
    DEFINITION at scale — AQE skew-split handles the window's sort
    spill, and a salted two-stage min-reduction is the drop-in if one
    line dominates a reducer (same mitigation family as j8)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit("alpha beta gamma|"),
            F.substring("text", 1, 60),
            F.lit("|unique tail "),
            F.col("doc_id").cast("string"),
        ).alias("t"),
    )
    seg = aug.select(
        "doc_id", F.posexplode(F.split("t", "\\|")).alias("ord0", "seg")
    ).select("doc_id", (F.col("ord0") + 1).alias("ord"), "seg")
    w = W.partitionBy("seg").orderBy("doc_id", "ord")
    ranked = seg.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.count(F.lit(1)).alias("n_lines"),
        F.concat_ws(
            "|",
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") == 1,
                        F.struct("ord", "seg"),
                    )
                )
            ).getField("seg"),
        ).alias("cleaned"),
    )


@query(
    "ts_ppl_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
            FROM read_parquet('{sf}/documents.parquet'))
      WHERE w <> ''
    ), counts AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), totals AS (
      SELECT sum(c) AS n, count(*) AS v FROM counts
    ), scored AS (
      SELECT t.doc_id,
             CAST(round(-ln((c.c + 1) / (CAST(tt.n AS DOUBLE) + tt.v))
                        * 1048576) AS BIGINT) AS qnll
      FROM tok t JOIN counts c ON c.w = t.w CROSS JOIN totals tt
    ), per_doc AS (
      SELECT doc_id, CAST(sum(qnll) AS BIGINT) AS qsum,
             count(*) AS n_tokens
      FROM scored GROUP BY doc_id
    ), corpus AS (
      SELECT CAST(sum(qsum) AS BIGINT) AS s, CAST(sum(n_tokens) AS BIGINT) AS nt
      FROM per_doc
    )
    SELECT d.doc_id, d.qsum, d.n_tokens,
           CASE WHEN CAST(d.qsum AS DOUBLE) / d.n_tokens
                     < 0.9 * (CAST(c.s AS DOUBLE) / c.nt) THEN 'head'
                WHEN CAST(d.qsum AS DOUBLE) / d.n_tokens
                     > 1.1 * (CAST(c.s AS DOUBLE) / c.nt) THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM per_doc d, corpus c
    """,
    tags=("textstats", "quality", "lm-filter", "ccnet"),
)
def ts_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: documents split into
    head/middle/tail by their unigram-LM mean NLL relative to the
    corpus mean (±10% band) — the standard triage that routes 'head'
    (fluent) text into training and flags 'tail' (rare-token soup)
    for inspection. Per-token NLL quantizes to a 2^-20 binary grid at
    the ROW level, so every downstream aggregate (per-doc sums, the
    corpus total) is exact int64 arithmetic and the bucket boundaries
    are two IEEE ops on identically-derived doubles — no decimal casts,
    no global percentile window (the corpus mean is a scalar subquery;
    compare w7's boundary-broadcast pattern for exact quantiles).
    Shuffles: word counts, doc re-aggregation — same two as
    ts_unigram_logprob."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
    ).filter(F.col("w") != "")
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).select(F.struct("*")).scalar()
    qnll = F.round(
        -F.log(
            (F.col("c") + 1)
            / (F.col("totals.n").cast("double") + F.col("totals.v"))
        )
        * F.lit(1048576)
    ).cast("bigint")
    per_doc = (
        tok.join(counts, "w")
        .withColumn("totals", totals)
        .select("doc_id", qnll.alias("qnll"))
        .groupBy("doc_id")
        .agg(
            F.sum("qnll").alias("qsum"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    corpus = per_doc.agg(
        F.sum("qsum").cast("bigint").alias("s"),
        F.sum("n_tokens").cast("bigint").alias("nt"),
    ).select(F.struct("*")).scalar()
    dm = F.col("qsum").cast("double") / F.col("n_tokens")
    cm = F.col("corpus.s").cast("double") / F.col("corpus.nt")
    return per_doc.withColumn("corpus", corpus).select(
        "doc_id",
        "qsum",
        "n_tokens",
        F.when(dm < 0.9 * cm, "head")
        .when(dm > 1.1 * cm, "tail")
        .otherwise("middle")
        .alias("bucket"),
    )


@query(
    "ts_bpe_first_merges",
    oracle="""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
      FROM read_parquet('{sf}/documents.parquet')
    ), pairs AS (
      SELECT substring(w, i, 2) AS pair
      FROM words, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
      WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 10
    """,
    tags=("text-bpe", "tokenizer", "W3"),
)
def ts_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training step: corpus-wide counts of adjacent
    symbol pairs within words, top-10 merge candidates (count desc,
    pair asc tiebreak) — run iteratively with the winning pair merged
    into a new symbol, this IS byte-pair-encoding vocabulary learning;
    one step is the query-shaped unit (the loop is a driver concern,
    exactly like pipe_kmeans_step vs train_centroids). Plan: words
    explode to character bigrams via a codegen'd transform(sequence)
    over substring — no UDF; one shuffle on the pair (alphabet², a
    bounded key space with map-side partials absorbing the Zipf head);
    TakeOrderedAndProject top-10. Spark's sequence() DESCENDS when
    stop < start, so 1-char words are filtered before the expansion
    (DuckDB's generate_series is empty there — silent divergence
    otherwise)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(10)
    )


@query(
    "ts_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, i, w[i] AS cur,
             CASE WHEN i > 1 THEN w[i - 1] END AS prev
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM read_parquet('{sf}/documents.parquet')),
           UNNEST(generate_series(1, len(w))) AS g(i)
    ), uni AS (
      SELECT cur AS u_w, count(*) AS uc FROM tok GROUP BY u_w
    ), bi AS (
      SELECT prev AS b_p, cur AS b_c, count(*) AS bc
      FROM tok WHERE prev IS NOT NULL GROUP BY b_p, b_c
    ), vocab AS (SELECT count(*) AS v FROM uni),
    scored AS (
      SELECT t.doc_id,
             CAST(round(-ln((COALESCE(b.bc, 0) + 1)
                            / (CAST(u.uc AS DOUBLE) + vv.v))
                        * 1048576) AS BIGINT) AS qnll
      FROM tok t
      JOIN uni u ON u.u_w = t.prev
      LEFT JOIN bi b ON b.b_p = t.prev AND b.b_c = t.cur
      CROSS JOIN vocab vv
      WHERE t.prev IS NOT NULL
    )
    SELECT doc_id, CAST(sum(qnll) AS BIGINT) AS qsum,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(sum(qnll) AS BIGINT) AS DOUBLE) / 1048576.0 / count(*)
             AS avg_nll
    FROM scored GROUP BY doc_id
    """,
    tags=("textstats", "quality", "lm-filter", "bigram"),
)
def ts_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean NLL under an add-one-smoothed BIGRAM LM trained
    on the corpus itself — a sharper fluency proxy than the unigram
    filter (ts_unigram_logprob): it penalizes improbable word ORDER,
    not just rare words, which is what separates shuffled-word spam
    from real prose. P(w|prev) = (c(prev,w)+1) / (c(prev)+V); per-token
    NLL quantizes to a 2^-20 binary grid at the row level so every
    aggregate is exact int64 (ln is not cross-engine ULP-stable raw —
    see ts_tfidf_topk). Shuffles: bigram counts (bounded by observed
    bigram vocabulary), unigram counts, then one join back onto the
    token stream by (prev, cur) — Zipf-head keys are hot but carry
    one small payload row each, AQE-splittable; the doc re-aggregation
    is the only corpus-sized exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).alias("i0", "cur"),
    ).select(
        "doc_id",
        "cur",
        F.lag("cur").over(
            W.partitionBy("doc_id").orderBy("i0")
        ).alias("prev"),
    )
    pairs = tok.filter(F.col("prev").isNotNull())
    # unigram counts over the FULL token stream (incl. each doc's final
    # token): both V and the conditional denominator c(prev) use this
    # table, mirroring the oracle's `uni` exactly
    uni_all = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "\\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("u_w")
        )
        .groupBy("u_w")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    bi = pairs.groupBy(
        F.col("prev").alias("b_p"), F.col("cur").alias("b_c")
    ).agg(F.count(F.lit(1)).alias("bc"))
    v = uni_all.agg(F.count(F.lit(1))).scalar()
    qnll = F.round(
        -F.log(
            (F.coalesce(F.col("bc"), F.lit(0)) + 1)
            / (F.col("uc").cast("double") + v)
        )
        * F.lit(1048576)
    ).cast("bigint")
    scored = (
        pairs.join(uni_all, F.col("u_w") == F.col("prev"))
        .join(
            bi,
            (F.col("b_p") == F.col("prev")) & (F.col("b_c") == F.col("cur")),
            "left",
        )
        .select("doc_id", qnll.alias("qnll"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("qnll").alias("qsum"),
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("qnll").cast("double")
            / F.lit(1048576.0)
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    )


@query(
    "ts_code_detect",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'def f(x): return {x: [1, 2]} // ' || text
                  ELSE text END AS t
      FROM read_parquet('{sf}/documents.parquet')
    ), feat AS (
      SELECT doc_id,
             length(t) AS n_chars,
             length(t) - length(regexp_replace(t, '[{}\\[\\]();=<>]', '', 'g'))
               AS n_symbols,
             len(regexp_extract_all(
               t, '\\b(def|return|import|var|const|function|class|if|else)\\b'))
               AS n_keywords
      FROM aug
    )
    SELECT doc_id, n_symbols, n_keywords,
           CAST(n_symbols AS DOUBLE) / n_chars AS symbol_density,
           (n_symbols * 20 > n_chars OR n_keywords >= 3) AS looks_like_code
    FROM feat
    """,
    tags=("textstats", "quality", "code-detect"),
)
def ts_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector: symbol density (brackets/operators per
    char) + programming-keyword hits flag documents that are code — the
    routing signal that sends code to a code-specific pipeline (or out
    of a prose corpus) before tokenization. Every 7th doc gets a planted
    code prefix so both branches of the decision are exercised at any
    scale factor. Pure map-side regex counting (zero shuffles, zero
    UDFs); the density is one IEEE division of integer operands and the
    verdict is integer-only arithmetic (n_symbols·20 > n_chars avoids a
    float threshold entirely)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("def f(x): return {x: [1, 2]} // "), F.col("text")),
    ).otherwise(F.col("text"))
    aug = docs.select("doc_id", t.alias("t"))
    n_chars = F.length("t")
    n_symbols = F.length("t") - F.length(
        F.regexp_replace("t", r"[{}\[\]();=<>]", "")
    )
    n_keywords = F.size(
        F.expr(
            r"regexp_extract_all(t, "
            r"'\\b(def|return|import|var|const|function|class|if|else)\\b', 0)"
        )
    )
    feat = aug.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_symbols.alias("n_symbols"),
        n_keywords.cast("bigint").alias("n_keywords"),
    )
    return feat.select(
        "doc_id",
        F.col("n_symbols").cast("bigint").alias("n_symbols"),
        "n_keywords",
        (F.col("n_symbols").cast("double") / F.col("n_chars")).alias(
            "symbol_density"
        ),
        (
            (F.col("n_symbols") * 20 > F.col("n_chars"))
            | (F.col("n_keywords") >= 3)
        ).alias("looks_like_code"),
    )


@query(
    "ts_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), tok2 AS (SELECT token FROM tok WHERE token <> '')
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM tok2
    GROUP BY token
    HAVING count(*) * 400 > (SELECT count(*) FROM tok2)
    """,
    tags=("textstats", "sketch", "heavy-hitters"),
)
def ts_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens above 1/400 of all tokens)
    via the two-phase sketch plan that survives a corpus-sized
    vocabulary: a per-partition Misra-Gries summary (512 bounded
    counters, one streaming pass, NO shuffle — operators/sketches.py)
    emits a candidate set with a proven superset guarantee for any
    token above total/513 < total/400; a broadcast semi-join restricts
    the corpus to candidate occurrences BEFORE the exact groupBy, so
    the only shuffle carries <=512*partitions candidate tokens instead
    of the full vocabulary. The final exact filter makes the answer
    deterministic and partitioning-independent — the sketch is a
    prefilter, never the result. The token scan is recomputed per
    branch (narrow, no shuffle) rather than checkpointed: materializing
    an exploded 100 TB token stream would cost more than the rescans.
    The threshold compare is integer-only (cnt*400 > total)."""
    from ..operators.sketches import mg_candidates

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token")
    ).filter(F.col("token") != "")
    cand = mg_candidates(tok, "token", 512).distinct()
    total = tok.agg(F.count(F.lit(1))).scalar()
    exact = tok.join(F.broadcast(cand), "token", "left_semi").groupBy(
        "token"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return exact.filter(F.col("cnt") * 400 > total).select("token", "cnt")


@query(
    "ts_ecdf_normalize",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars
      FROM read_parquet('{sf}/documents.parquet')
    ), hist AS (
      SELECT source, n_chars, count(*) AS c FROM d GROUP BY source, n_chars
    ), ecdf AS (
      SELECT source, n_chars,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars)
                  AS BIGINT) AS le_count,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS src_total
      FROM hist
    )
    SELECT d.doc_id, d.source, d.n_chars, e.le_count, e.src_total,
           CAST(e.le_count AS DOUBLE) / e.src_total AS ecdf
    FROM d JOIN ecdf e
      ON e.source = d.source AND e.n_chars = d.n_chars
    """,
    tags=("textstats", "normalize", "ecdf"),
)
def ts_ecdf_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ECDF normalization of document length — the
    rank-normalized score that makes quality thresholds comparable
    across sources with different length distributions (a mixture
    re-weighting input). Deliberately NOT a percent_rank window over
    the corpus: partitionBy(source) has bounded cardinality, so at
    100 TB each source would sort on a single reducer. Instead the
    ECDF is computed on the (source, n_chars) HISTOGRAM — an
    aggregation with map-side partials whose output is
    distinct-values-sized, not corpus-sized — the cumulative window
    runs over that tiny histogram, and the result broadcasts back onto
    the documents as an equi-join. le_count/src_total are exact int64;
    the ecdf double is one correctly-rounded IEEE division of integer
    operands, so it is engine-identical."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    hist = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("source").orderBy("n_chars")
    wtot = W.partitionBy("source")
    ecdf = hist.select(
        "source",
        "n_chars",
        F.sum("c").over(wcum).cast("bigint").alias("le_count"),
        F.sum("c").over(wtot).cast("bigint").alias("src_total"),
    )
    return d.join(F.broadcast(ecdf), ["source", "n_chars"]).select(
        "doc_id",
        "source",
        "n_chars",
        "le_count",
        "src_total",
        (F.col("le_count").cast("double") / F.col("src_total")).alias("ecdf"),
    )


@query(
    "ts_quality_logit",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), feats AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024
               AS bucket,
             count(*) AS tf
      FROM tok WHERE token <> ''
      GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(sum(tf * (bucket % 7 - 3)) AS BIGINT) AS logit_q,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           (sum(tf * (bucket % 7 - 3)) >= 0) AS keep
    FROM feats GROUP BY doc_id
    """,
    tags=("textstats", "quality", "classifier"),
)
def ts_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier applied via the hashing trick — the
    fastText-style filter shape used to score web corpora: token →
    hash bucket → weight, summed per document, thresholded. No
    vocabulary table ships anywhere: the 1024-entry weight vector is a
    pure arithmetic function of the bucket here (bucket%7 - 3, standing
    in for trained weights, which would broadcast as a 4 KB literal
    map), so scoring is entirely map-side expressions over the
    ts_feature_hashing features — one shuffle on (doc_id, bucket) with
    partial counts, then a doc-level re-group that reuses the same
    hash-partitioning on doc_id. The logit stays exact int64 end to
    end; the sigmoid is monotone, so the keep decision is an integer
    compare (no float threshold). Portable md5 bucket for the oracle;
    production flips to xxhash64 via the dedup-family backend flag."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    feats = tok.groupBy(
        "doc_id", (hash32(F.col("token")) % 1024).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = F.col("bucket") % 7 - 3
    return feats.groupBy("doc_id").agg(
        F.sum(F.col("tf") * w).cast("bigint").alias("logit_q"),
        F.sum("tf").cast("bigint").alias("n_tokens"),
        (F.sum(F.col("tf") * w) >= 0).alias("keep"),
    )


@query(
    "ts_dup_ngram_coverage",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM read_parquet('{sf}/documents.parquet')
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(w) - 12, 0)),
               i -> array_to_string(list_slice(w, i, i + 12), ' '))) AS g
      FROM w
    ), df AS (
      SELECT g, count(*) AS n_docs FROM grams GROUP BY g
    ), cov AS (
      SELECT gr.doc_id,
             count(*) AS n_grams,
             count(*) FILTER (df.n_docs >= 2) AS n_dup
      FROM grams gr JOIN df ON df.g = gr.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_dup AS BIGINT) AS n_dup,
           CAST(n_dup AS DOUBLE) / n_grams AS dup_frac
    FROM cov
    """,
    tags=("textstats", "dedup-ngram", "quality"),
)
def ts_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-13-gram coverage: what fraction of a
    doc's distinct 13-token spans also occur in another document — the
    FineWeb/Gopher-style *soft* duplication signal that catches
    boilerplate-heavy and template documents which whole-doc and
    near-dup hashing both miss (they duplicate in PIECES). Shape: one
    explode to distinct (doc, gram), one gram-keyed aggregation for
    document frequency, and a join back on the gram — the same
    inverted-index geometry as dedup_contamination_ngram, re-aggregated
    per doc. At 100 TB the gram join key inherits the corpus's Zipf
    skew; the production guard is the MAX_SHINGLE_DF stop-gram cap the
    MinHash chain uses (a gram in thousands of docs is boilerplate by
    definition — clamp its df, which leaves n_dup unchanged since the
    threshold is df>=2). Counts exact int64; dup_frac is one IEEE
    division of integers."""
    # fan_out: the 13-gram array build + explode is CPU-dense on a
    # 1-split scan (two ~0.85s single-task stages without it)
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    w = F.split(F.lower(F.col("text")), "\\s+")
    idx = F.when(
        F.size("w") >= 13, F.sequence(F.lit(1), F.size("w") - 12)
    ).otherwise(F.array().cast("array<int>"))
    grams_arr = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("w"), i, F.lit(13)), " ")
    )
    grams = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(grams_arr).alias("g"))
        .distinct()
    )
    df_ = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    cov = (
        grams.join(df_, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("n_docs") >= 2, 1))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return cov.select(
        "doc_id",
        "n_grams",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_grams")).alias("dup_frac"),
    )


@query(
    "ts_gopher_rules",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_chars,
             len(regexp_extract_all(text, '[#]|[.][.][.]')) AS n_symbols,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             len(regexp_extract_all(lower(text),
                 '\\b(the|a|of|and|to|in|is|for)\\b')) AS n_stop
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT doc_id,
           (n_words BETWEEN 50 AND 100000) AS ok_word_count,
           (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
             AS ok_mean_word_len,
           (10 * n_symbols <= n_words) AS ok_symbol_ratio,
           (5 * n_alpha >= 4 * n_words) AS ok_alpha_words,
           (n_stop >= 2) AS ok_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
            AND (10 * n_symbols <= n_words)
            AND (5 * n_alpha >= 4 * n_words)
            AND (n_stop >= 2)) AS keep
    FROM feat
    """,
    tags=("textstats", "quality", "gopher"),
)
def ts_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-free quality rule battery (Rae et al.) as
    one fused per-document rule table: word-count bounds, mean-word-
    length bounds, symbol-to-word ratio, alphabetic-word fraction, and
    minimum stopword evidence — the classic web-corpus gate, emitted
    rule-by-rule (so corpus triage can see WHICH rule fires, the same
    shape as the warehouse's quality_suite) plus the fused keep verdict.
    Every rule is integer cross-multiplication over counts a single
    map-side pass extracts (mean word length 3..10 becomes 3n ≤ chars ≤
    10n — no division, no float threshold anywhere), so the whole gate
    fuses into the scan's codegen stage: zero shuffles, zero UDFs, and
    verdicts that replay bit-identically on any engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    n_words = F.size(toks).cast("bigint")
    n_chars = F.length(F.regexp_replace("text", r"\s", "")).cast("bigint")
    n_symbols = F.regexp_count("text", F.lit(r"[#]|[.][.][.]")).cast("bigint")
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    n_stop = F.regexp_count(
        F.lower(F.col("text")), F.lit(r"\b(the|a|of|and|to|in|is|for)\b")
    ).cast("bigint")
    feat = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_symbols.alias("n_symbols"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    ok_wc = F.col("n_words").between(50, 100000)
    ok_mwl = (3 * F.col("n_words") <= F.col("n_chars")) & (
        F.col("n_chars") <= 10 * F.col("n_words")
    )
    ok_sym = 10 * F.col("n_symbols") <= F.col("n_words")
    ok_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    ok_stop = F.col("n_stop") >= 2
    return feat.select(
        "doc_id",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("keep"),
    )


@query(
    "ts_median_len_by_source",
    oracle="""
    WITH hist AS (
      SELECT source, n_chars, count(*) AS c
      FROM read_parquet('{sf}/documents.parquet')
      GROUP BY source, n_chars
    ), ecdf AS (
      SELECT source, n_chars,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars)
                  AS BIGINT) AS cum,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS total
      FROM hist
    )
    SELECT source, CAST(min(n_chars) AS BIGINT) AS median_len,
           CAST(min(total) AS BIGINT) AS n_docs
    FROM ecdf WHERE 2 * cum >= total
    GROUP BY source
    """,
    tags=("textstats", "percentiles", "ecdf"),
)
def ts_median_len_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median without a per-group sort: the smallest
    n_chars whose cumulative histogram count reaches half the group
    (lower median — integer-deterministic, no midpoint interpolation to
    float-drift). Same scale shape as ts_ecdf_normalize: the expensive
    aggregation is the (source, n_chars) HISTOGRAM (distinct-values
    sized, map-side partials), the cumulative window runs over that
    tiny table, and the median selection is a filter + min — so exact
    per-group medians cost one histogram aggregate at ANY corpus size,
    where a percentile_approx trades accuracy and a sort-based exact
    median would single-reducer each group. Generalizes to any quantile
    (q·cum ≥ total) and any discrete/quantized column."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    hist = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("source").orderBy("n_chars")
    wtot = W.partitionBy("source")
    ecdf = hist.select(
        "source",
        "n_chars",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(wtot).cast("bigint").alias("total"),
    )
    return (
        ecdf.filter(2 * F.col("cum") >= F.col("total"))
        .groupBy("source")
        .agg(
            F.min("n_chars").cast("bigint").alias("median_len"),
            F.min("total").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "ts_simpson_diversity",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), counted AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    ), s AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS coincidence
      FROM counted GROUP BY source
    )
    SELECT source, n_tokens, n_types, coincidence,
           1.0 - CAST(coincidence AS DOUBLE) / (n_tokens * (n_tokens - 1))
             AS simpson_diversity
    FROM s WHERE n_tokens > 1
    """,
    tags=("text-vocab", "diversity", "quality"),
)
def ts_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per source — 1 − Σc(c−1)/(N(N−1)), the
    probability two tokens drawn without replacement differ. The
    entropy-free diversity index: unlike Shannon it needs NO
    logarithms (ln is not cross-engine-exact; this is the
    diversity monitor you can hash-gate), and it reduces to exact
    integer sums over the (source, token) histogram — the repetitive /
    template-generated source detector in a training-data mix, on the
    same single-scan shape as ts_vocab_topk. The final value is one
    double division of exact integers. Scale: one shuffle to the token
    histogram (the explode is map-side), then source-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    )
    counted = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = counted.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1))
        .cast("bigint")
        .alias("coincidence"),
    )
    return s.filter(F.col("n_tokens") > 1).select(
        "source",
        "n_tokens",
        "n_types",
        "coincidence",
        (
            F.lit(1.0)
            - F.col("coincidence").cast("double")
            / (F.col("n_tokens") * (F.col("n_tokens") - 1))
        ).alias("simpson_diversity"),
    )


@query(
    "pipe_shard_manifest",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 16 AS bucket,
             CAST(('0x' || substr(md5('digest:' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) AS h
      FROM read_parquet('{sf}/documents.parquet')
    ), c AS (
      SELECT bucket, doc_id, wc, h,
             sum(wc) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM m
    ), seqs AS (
      SELECT bucket, h, wc,
             CAST(floor(CAST(cum - wc AS DOUBLE) / 2048.0) AS BIGINT)
               AS seq_id
      FROM c
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(wc) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(bit_xor(h) AS BIGINT) AS id_digest
    FROM seqs GROUP BY bucket
    """,
    tags=("text-packing", "pipeline", "reconciliation"),
)
def pipe_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD MANIFEST for the packed training corpus — the per-shard
    data card a training run records and later reconciles against: doc
    and token counts, the number of 2048-token sequences the shard
    yields, and an ORDER-FREE id digest (xor of per-doc keyed hashes —
    dq_table_digest's reconciliation primitive scoped to the shard).
    Two runs that produce the same manifest table trained on the same
    data; a digest mismatch localizes the drift to a shard without
    re-reading text. Reuses ts_seq_packing's deterministic bucket
    assignment and in-bucket cum-window exactly (same 'pack:' hash,
    same doc_id order), so manifest and packing can never disagree
    about shard membership. One bucket-partitioned window + one
    16-group aggregate; xor is commutative, so the digest needs no
    ordering anywhere."""
    from ..operators.dedup import hash32

    docs = load_table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    bucket = (
        hash32(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) % 16
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("digest:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    m = docs.select(
        "doc_id", wc.alias("wc"), bucket.alias("bucket"), h.alias("h")
    )
    w = W.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = m.select("bucket", "wc", "h", F.sum("wc").over(w).alias("cum"))
    seq_id = (
        F.floor((F.col("cum") - F.col("wc")).cast("double") / 2048.0)
        .cast("bigint")
    )
    return (
        c.withColumn("seq_id", seq_id)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("wc").cast("bigint").alias("n_tokens"),
            F.count_distinct("seq_id").cast("bigint").alias("n_seqs"),
            F.expr("bit_xor(h)").cast("bigint").alias("id_digest"),
        )
    )


@query(
    "ts_winnowing_fingerprint",
    oracle="""
    WITH base AS (
      SELECT doc_id, lower(text) AS lt
      FROM read_parquet('{sf}/documents.parquet')
      WHERE length(lower(text)) >= 11
    ), pos AS (
      SELECT doc_id, lt, unnest(generate_series(1, length(lt) - 7)) AS p
      FROM base
    ), keyed AS (
      SELECT doc_id, p, length(lt) - 7 AS nk,
             CAST(('0x' || substr(md5(substr(lt, p, 8)), 1, 10)) AS BIGINT)
               * 65536 + (65535 - p) AS key
      FROM pos
    ), wmin AS (
      SELECT doc_id, nk, p,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
      FROM keyed
    ), sel AS (
      SELECT DISTINCT doc_id, nk, k FROM wmin WHERE p <= nk - 3
    )
    SELECT doc_id,
           CAST(min(nk) AS BIGINT) AS n_kgrams,
           CAST(count(DISTINCT k) AS BIGINT) AS n_selected,
           CAST(count(DISTINCT k // 65536) AS BIGINT) AS n_fingerprints,
           (10000 * CAST(count(DISTINCT k) AS BIGINT))
             // CAST(min(nk) AS BIGINT) AS density_e4
    FROM sel GROUP BY doc_id
    """,
    tags=("text", "fingerprint", "winnowing", "dedup-near"),
)
def ts_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char 8-gram, slide a
    window of w=4 consecutive positions, select each window's minimum
    (rightmost on hash ties), keep the distinct selected set per doc.
    The guarantee that makes it the standard plagiarism/near-dup
    fingerprint: any shared substring of ≥ k+w−1 = 11 chars yields at
    least one IDENTICAL selected fingerprint in both docs, and the
    expected density is 2/(w+1) — a guaranteed-recall sample, unlike
    the fixed-stride or modulo samples it replaced. The rightmost
    tie-break is encoded arithmetically: key = hash40·2^16 +
    (2^16−1−pos), so one integer `min` per window implements
    (hash asc, pos desc) ordering exactly and stays far inside int64
    (2^40·2^16 = 2^56); doc length < 2^16 is guaranteed by the corpus
    (≤577 chars) and asserted by construction in the tests.

    Scale: one explode to len−7 positions (linear in corpus bytes), one
    per-doc ROWS-frame window min — partition-local, no cross-doc
    shuffle until the final per-doc aggregate; at 100 TB the selected
    fingerprints (≈0.4× the k-gram count) feed an equi-join pair stage
    exactly like the MinHash band join. Output is the per-doc
    fingerprint census; density ≈ 2/(w+1) is pinned in tests. The
    selection itself is the shared operator
    (operators/sketches.winnowing_selected) — one definition for this
    query, its oracle's mirror, and the guarantee test."""
    from ..operators.sketches import winnowing_selected

    docs = load_table(spark, sf_dir, "documents")
    sel = winnowing_selected(docs, "doc_id", F.col("text"))
    return sel.groupBy("doc_id").agg(
        F.min("nk").cast("bigint").alias("n_kgrams"),
        F.count_distinct("k").cast("bigint").alias("n_selected"),
        F.count_distinct(F.expr("k div 65536"))
        .cast("bigint")
        .alias("n_fingerprints"),
        F.expr(
            "(10000 * count(DISTINCT k)) div min(nk)"
        )
        .cast("bigint")
        .alias("density_e4"),
    )


@query(
    "ts_vocab_growth_heaps",
    oracle="""
    WITH docs AS (
      SELECT doc_id, list_distinct(
               regexp_split_to_array(lower(text), '\\s+')) AS toks
      FROM read_parquet('{sf}/documents.parquet')
    ), mx AS (
      SELECT max(doc_id) AS m FROM docs
    ), per_doc AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS c,
             greatest(CAST((10 * doc_id + m - 1) // m AS BIGINT), 1) AS ck
      FROM docs, mx
    ), firsts AS (
      SELECT min(doc_id) AS fd
      FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
      GROUP BY token
    ), first_ck AS (
      SELECT greatest(CAST((10 * fd + m - 1) // m AS BIGINT), 1) AS ck,
             CAST(count(*) AS BIGINT) AS v
      FROM firsts, mx GROUP BY 1
    ), doc_ck AS (
      SELECT ck, CAST(count(*) AS BIGINT) AS d,
             CAST(sum(c) AS BIGINT) AS t
      FROM per_doc GROUP BY ck
    ), spine AS (
      SELECT unnest(generate_series(1, 10)) AS ck
    )
    SELECT CAST(s.ck AS BIGINT) AS cp_k,
           CAST((m * s.ck) // 10 AS BIGINT) AS cp_doc_id,
           CAST(sum(coalesce(d.d, 0))
                OVER (ORDER BY s.ck) AS BIGINT) AS n_docs_cum,
           CAST(sum(coalesce(d.t, 0))
                OVER (ORDER BY s.ck) AS BIGINT) AS tokens_cum,
           CAST(sum(coalesce(f.v, 0))
                OVER (ORDER BY s.ck) AS BIGINT) AS vocab_cum
    FROM spine s
    LEFT JOIN doc_ck d ON d.ck = s.ck
    LEFT JOIN first_ck f ON f.ck = s.ck
    CROSS JOIN mx
    """,
    tags=("text", "corpus-curve", "heaps-law"),
)
def ts_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS-LAW vocabulary growth curve: distinct-vocabulary size at 10
    cumulative corpus checkpoints (doc_id deciles of the ingestion
    order) beside cumulative doc and token counts — the standard
    corpus-health readout for a training-data pipeline (a vocabulary
    that keeps growing linearly means boilerplate/IDs are leaking
    through cleaning; Heaps' V(n) ≈ K·n^β with β<1 means dedup and
    normalization are working). The naive form scans the corpus once
    PER checkpoint; this plan is one scan total: each token's FIRST
    doc (min doc_id) decides the single checkpoint where it enters the
    vocabulary, so V(cp) is a 10-row cumulative sum over first-seen
    buckets — the same "aggregate the event, not the state" trick as
    the CDC changelog apply. All integers; empty buckets ride a
    generated 1..10 spine so the window cumsum never skips a row.

    Scale: one distinct-token explode + one groupBy(token) min — the
    shuffle any vocabulary statistic already pays; everything after is
    10 rows. The checkpoint quantization ((10·id + m − 1) div m,
    clamped to ≥1) is truncating-div exact on both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), "\\s+")).alias(
            "toks"
        ),
    )
    m = docs.agg(F.max("doc_id")).scalar()
    per_doc = docs.withColumn("m", m).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("c"),
        F.greatest(
            F.expr("(10 * doc_id + m - 1) div m").cast("bigint"), F.lit(1)
        ).alias("ck"),
        "toks",
    )
    firsts = (
        per_doc.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("fd"))
    )
    first_ck = (
        firsts.withColumn("m", m)
        .select(
            F.greatest(
                F.expr("(10 * fd + m - 1) div m").cast("bigint"), F.lit(1)
            ).alias("ck")
        )
        .groupBy("ck")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    doc_ck = per_doc.groupBy("ck").agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("c").cast("bigint").alias("t"),
    )
    spine = spark.range(1, 11).select(F.col("id").cast("bigint").alias("ck"))
    w = W.orderBy("ck")
    return (
        spine.join(doc_ck, "ck", "left")
        .join(first_ck, "ck", "left")
        .withColumn("m", m)
        .select(
            F.col("ck").alias("cp_k"),
            F.expr("(m * ck) div 10").cast("bigint").alias("cp_doc_id"),
            F.sum(F.coalesce(F.col("d"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("n_docs_cum"),
            F.sum(F.coalesce(F.col("t"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("tokens_cum"),
            F.sum(F.coalesce(F.col("v"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("vocab_cum"),
        )
    )


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: count pairs on s{r-1}, pick the winner,
    keep leftmost-nonoverlapping candidate positions (run parity),
    rebuild s{r}. AS MATERIALIZED throughout — each CTE is referenced
    repeatedly and DuckDB inlines plain CTEs once per reference."""
    p = r - 1
    return f"""
    c{r} AS MATERIALIZED (
      SELECT a.sym AS s1, b.sym AS s2, CAST(sum(a.freq) AS BIGINT) AS n
      FROM s{p} a JOIN s{p} b ON b.w = a.w AND b.pos = a.pos + 1
      GROUP BY a.sym, b.sym
    ),
    b{r} AS MATERIALIZED (
      SELECT s1, s2, n FROM c{r} ORDER BY n DESC, s1, s2 LIMIT 1
    ),
    k{r} AS MATERIALIZED (
      SELECT a.w, a.pos
      FROM s{p} a JOIN s{p} b ON b.w = a.w AND b.pos = a.pos + 1, b{r}
      WHERE a.sym = b{r}.s1 AND b.sym = b{r}.s2
    ),
    kk{r} AS MATERIALIZED (
      SELECT w, pos FROM (
        SELECT w, pos,
               row_number() OVER (PARTITION BY w, g ORDER BY pos) AS rn
        FROM (SELECT w, pos,
                     pos - row_number() OVER (PARTITION BY w ORDER BY pos)
                       AS g
              FROM k{r})
      ) WHERE rn % 2 = 1
    ),
    s{r} AS MATERIALIZED (
      SELECT w, freq,
             CAST(row_number() OVER (PARTITION BY w ORDER BY pos)
               AS BIGINT) AS pos,
             sym
      FROM (
        SELECT s.w, s.freq, s.pos,
               CASE WHEN m.pos IS NOT NULL THEN s.sym || nx.sym
                    ELSE s.sym END AS sym
        FROM s{p} s
        LEFT JOIN kk{r} m ON m.w = s.w AND m.pos = s.pos
        LEFT JOIN kk{r} d ON d.w = s.w AND d.pos = s.pos - 1
        LEFT JOIN s{p} nx ON nx.w = s.w AND nx.pos = s.pos + 1
        WHERE d.pos IS NULL
      )
    )"""


_BPE_K = 4

_BPE_ORACLE = (
    """
    WITH w0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{sf}/documents.parquet')
      ) WHERE length(w) >= 1 GROUP BY w
    ),
    s0 AS MATERIALIZED (
      SELECT w, freq, CAST(i AS BIGINT) AS pos, substring(w, i, 1) AS sym
      FROM w0, UNNEST(generate_series(1, length(w))) AS g(i)
    ),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_K + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, s1, s2, n FROM b{r}"
        for r in range(1, _BPE_K + 1)
    )
)


@query(
    "ts_bpe_iterative_merges",
    oracle=_BPE_ORACLE,
    tags=("text-bpe", "tokenizer", "iterative", "checkpointed-loop"),
)
def ts_bpe_iterative_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning, k=4 SEQUENTIAL merge rounds with pair
    RE-COUNTING — the real tokenizer-training loop (Sennrich et al.
    ACL'16), extending ts_bpe_first_merges' single count-and-rank pass:
    each round counts adjacent symbol pairs over the corpus AFTER all
    previous merges applied, picks the winner (n desc, pair asc), and
    merges its occurrences leftmost-first non-overlapping. Runs on the
    DISTINCT-WORD frame with multiplicities (the collapse every
    production BPE trainer uses — corpus size drops out of the loop
    entirely), applies merges as a codegen'd array fold (no UDF, no
    shuffle), broadcasts the 1-row winner instead of collecting it,
    and localCheckpoints per round like the PageRank loop
    (operators/bpe.py for the semantics + correctness argument). The
    oracle unrolls all 4 rounds as materialized CTEs, expressing the
    leftmost-first merge positionally: within each run of consecutive
    candidate positions keep the 1st, 3rd, … (equivalent to the scan —
    hypothesis-pinned against a plain-Python BPE reference). Output:
    (round, s1, s2, n) — bit-comparable across engines because every
    quantity is an integer count or a symbol string."""
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return bpe_train(words, _BPE_K)


_BPE_COMPRESSION_ORACLE = (
    """
    WITH w0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{sf}/documents.parquet')
      ) WHERE length(w) >= 1 GROUP BY w
    ),
    s0 AS MATERIALIZED (
      SELECT w, freq, CAST(i AS BIGINT) AS pos, substring(w, i, 1) AS sym
      FROM w0, UNNEST(generate_series(1, length(w))) AS g(i)
    ),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_K + 1))
    + f"""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM w0) AS n_words,
           (SELECT CAST(sum(freq) AS BIGINT) FROM s0) AS tokens_before,
           (SELECT CAST(sum(freq) AS BIGINT) FROM s{_BPE_K})
             AS tokens_after,
           (SELECT CAST((10000 * ((SELECT sum(freq) FROM s0)
                                  - (SELECT sum(freq) FROM s{_BPE_K})))
                        // (SELECT sum(freq) FROM s0) AS BIGINT))
             AS saved_e4
    """
)


@query(
    "ts_bpe_compression",
    oracle=_BPE_COMPRESSION_ORACLE,
    tags=("text-bpe", "tokenizer", "iterative"),
)
def ts_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compression readout of the k=4 learned BPE merges — the
    'did training help' audit every tokenizer run reports: total symbol
    count before vs after applying the merges (weighted by word
    frequency, i.e. over the full token stream, though the computation
    never leaves the distinct-word frame), plus the basis-point saving
    (integer e4, truncating div on both engines). Shares the training
    loop's localCheckpointed final state via
    operators/bpe.bpe_train_state — the merges are not replayed. The
    oracle reuses the same unrolled 4-round CTE chain as
    ts_bpe_iterative_merges and reads Σfreq·|syms| off s0/s4; each
    per-word symbol-count row of s{k} contributes freq per symbol, so
    sum(freq) over symbol ROWS is exactly the token total."""
    from ..operators.bpe import bpe_train_state

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    _, final_syms = bpe_train_state(words, _BPE_K, need_merges=False)
    before = words.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.length("w"))
        .cast("bigint")
        .alias("tokens_before"),
    )
    tokens_after = final_syms.agg(
        F.sum(F.col("freq") * F.size("syms")).cast("bigint")
    ).scalar()
    return before.withColumn("tokens_after", tokens_after).select(
        "n_words",
        "tokens_before",
        "tokens_after",
        F.expr(
            "cast((10000 * (tokens_before - tokens_after))"
            " div tokens_before as bigint)"
        ).alias("saved_e4"),
    )


_BPE_FERTILITY_ORACLE = (
    """
    WITH w0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{sf}/documents.parquet')
      ) WHERE length(w) >= 1 GROUP BY w
    ),
    s0 AS MATERIALIZED (
      SELECT w, freq, CAST(i AS BIGINT) AS pos, substring(w, i, 1) AS sym
      FROM w0, UNNEST(generate_series(1, length(w))) AS g(i)
    ),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_K + 1))
    + f""",
    ws AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS freq_s FROM (
        SELECT source,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{{sf}}/documents.parquet')
      ) WHERE length(w) >= 1 GROUP BY source, w
    ),
    enc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_syms
      FROM s{_BPE_K} GROUP BY w
    )
    SELECT ws.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ws.freq_s) AS BIGINT) AS word_count,
           CAST(sum(ws.freq_s * enc.n_syms) AS BIGINT) AS tokens,
           CAST((10000 * sum(ws.freq_s * enc.n_syms)) // sum(ws.freq_s)
                AS BIGINT) AS fertility_e4
    FROM ws JOIN enc ON enc.w = ws.w
    GROUP BY ws.source
    """
)


@query(
    "ts_bpe_fertility_by_source",
    oracle=_BPE_FERTILITY_ORACLE,
    tags=("text-bpe", "tokenizer", "iterative", "fertility"),
)
def ts_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY (tokens emitted per word) by source under
    the k=4 learned BPE vocabulary — the per-slice readout a tokenizer
    eval reports next to ts_bpe_compression's corpus total: sources
    whose words the merges don't cover inflate token budgets and skew
    mixture weights, so fertility-by-slice is the audit that catches a
    vocabulary trained on the wrong mix. KEY REUSE: a word's encoded
    form is source-independent, so the merges apply ONCE on the global
    distinct-word frame (bpe_train_state's checkpointed loop with the
    word carried through via ``keep``) and per-source token counts are
    a vocabulary-keyed JOIN of per-source word frequencies against the
    encoded symbol counts — the oracle mirrors this by reading symbol
    counts straight off the learning chain's final CTE. Everything is
    integer counts and one truncating e4 division.

    Scale: the corpus reduces to (source, word, freq) and (word, freq)
    once; the apply loop is vocabulary-bounded; the final join is on
    the word key (vocabulary-sized both sides)."""
    from ..operators.bpe import bpe_train_state

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    _, final_syms = bpe_train_state(
        words, _BPE_K, keep=("w",), need_merges=False
    )
    enc = final_syms.select(
        "w", F.size("syms").cast("bigint").alias("n_syms")
    )
    ws = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w"),
        )
        .filter(F.length("w") >= 1)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq_s"))
    )
    return (
        ws.join(enc, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("freq_s").cast("bigint").alias("word_count"),
            F.sum(F.col("freq_s") * F.col("n_syms"))
            .cast("bigint")
            .alias("tokens"),
            F.expr(
                "cast((10000 * sum(freq_s * n_syms)) div sum(freq_s)"
                " as bigint)"
            ).alias("fertility_e4"),
        )
    )


# Zipf fit shares the tfidf family's ln-grid contract: ln of identical
# integer inputs rounded onto a binary grid (here 2^14 — coarse enough
# that the 1000-term regression sums stay far inside int64: see the
# operand-bound walk in the docstring) before ANY summation, so the
# cross-engine 1-ULP ln hazard is confined to grid-boundary
# coincidences (~2^-32 odds per term) and float order-dependence never
# enters.
_ZIPF_GRID = 1 << 14
_ZIPF_TOPN = 1000


@query(
    "ts_zipf_fit",
    oracle=f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{{sf}}/documents.parquet')
      ) WHERE length(w) >= 1 GROUP BY w
    ), top AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, w) AS r
      FROM vocab ORDER BY freq DESC, w LIMIT {_ZIPF_TOPN}
    ), g AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * {_ZIPF_GRID}) AS BIGINT)
               AS xq,
             CAST(round(ln(CAST(freq AS DOUBLE)) * {_ZIPF_GRID})
                  AS BIGINT) AS yq,
             freq
      FROM top
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS sx,
             CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(xq * yq) AS BIGINT) AS sxy,
             CAST(sum(xq * xq) AS BIGINT) AS sxx,
             CAST(max(freq) AS BIGINT) AS max_freq
      FROM g
    )
    SELECT n AS n_terms, max_freq,
           CAST(CASE WHEN n * sxy - sx * sy >= 0
                     THEN (10000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                     ELSE -((10000 * (sx * sy - n * sxy))
                            // (n * sxx - sx * sx)) END AS BIGINT)
             AS slope_e4
    FROM s
    """,
    tags=("text-stats", "zipf", "ln-grid"),
)
def ts_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent fit over the top-1000 vocabulary — the
    distributional sanity check for a text corpus (natural language
    sits near slope -1 on the log-log rank/frequency line; word salad,
    boilerplate floods, or template spam bend it): least-squares slope
    of ln(freq) on ln(rank), computed entirely on the 2^14 ln-grid
    (see _ZIPF_GRID note) via the n*Sxy - Sx*Sy closed form so every
    sum is an order-insensitive int64 (bounds at n=1000, freq<=1e7:
    |x| <= 113k, |y| <= 264k, n*Sxy <= 3e16, (Sx)^2 <= 1.3e16 — all
    far inside 2^63) and the one possibly-negative division is
    sign-split (floor vs truncate agree only on non-negatives).

    Scale: vocabulary groupBy (map-side partials), top-1000 by
    TakeOrderedAndProject, regression sums on a 1000-row constant
    frame (its rank window is allowlisted constant-bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = vocab.orderBy(F.desc("freq"), "w").limit(_ZIPF_TOPN)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(W.orderBy(F.desc("freq"), "w"))
        .alias("r"),
    )
    g = ranked.select(
        F.expr(
            f"cast(round(ln(cast(r as double)) * {_ZIPF_GRID}) as bigint)"
        ).alias("xq"),
        F.expr(
            f"cast(round(ln(cast(freq as double)) * {_ZIPF_GRID})"
            " as bigint)"
        ).alias("yq"),
        "freq",
    )
    s = g.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("sxx"),
        F.max("freq").cast("bigint").alias("max_freq"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        "max_freq",
        F.expr(
            "cast(case when n * sxy - sx * sy >= 0"
            " then (10000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            " else -((10000 * (sx * sy - n * sxy))"
            " div (n * sxx - sx * sx)) end as bigint)"
        ).alias("slope_e4"),
    )


# Character-trigram entropy uses a COARSER ln grid (2^10) than tfidf's
# 2^20: the Sigma c*round(ln(c)*G) accumulator multiplies the grid by
# per-trigram counts that reach corpus-character scale, so at a
# 100 TB corpus (c ~ 1e14, ln c ~ 33) the products stay
# <= 1e14 * 33*2^10 ~ 3.4e18 < 2^63 only at G = 2^10; the grid error
# (~1e-3 per ln term) is far below any decision threshold an entropy
# monitor would use.
_ENT_GRID = 1 << 10


@query(
    "ts_char_trigram_entropy",
    oracle=f"""
    WITH tg AS (
      SELECT substring(t, i, 3) AS g FROM (
        SELECT lower(text) AS t
        FROM read_parquet('{{sf}}/documents.parquet')
      ), UNNEST(generate_series(1, greatest(length(t) - 2, 0))) AS u(i)
    ), h AS (
      SELECT g, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY g
    ), s AS (
      SELECT CAST(sum(c) AS BIGINT) AS big_n,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * {_ENT_GRID})
                               AS BIGINT)) AS BIGINT) AS slnq
      FROM h
    )
    SELECT big_n AS n_trigrams, n_distinct,
           CAST(round((ln(CAST(big_n AS DOUBLE))
                       - CAST(slnq AS DOUBLE)
                         / {_ENT_GRID}.0 / CAST(big_n AS DOUBLE))
                      * 1000000) AS BIGINT) AS entropy_e6
    FROM s
    """,
    tags=("text-stats", "entropy", "ln-grid"),
)
def ts_char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus character-trigram Shannon entropy (nats) — the
    distribution-level text health monitor: natural language sits in a
    narrow entropy band, while encoding corruption, binary spills, or
    template floods move it sharply (low = repetitive/templated, high =
    random bytes), making this the cheap tripwire in front of the
    per-document quality gates. Uses the identity
    H = ln N - (1/N)*Sigma c*ln(c) so the corpus-sized work is ONE
    trigram explode + groupBy; each distinct trigram's ln(c) quantizes
    once to the 2^10 grid (see _ENT_GRID overflow walk) and the
    accumulator is an exact int64 sum, leaving two IEEE scalar ops and
    the e6 rounding at the very end — identical expression tree on
    both engines.

    Scale: trigram explode is ~3 rows per input character (linear,
    narrow), one shuffle to the trigram histogram, 1-row readout."""
    # fan_out: ~3 trigram rows per character, all in the narrow stage
    # off a 1-split scan (measured 1.6s single-task without it)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tg = docs.select(F.lower("text").alias("t")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 2, 0)),"
                " i -> substring(t, i, 3))"
            )
        ).alias("g")
    )
    h = tg.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = h.groupBy().agg(
        F.sum("c").cast("bigint").alias("big_n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(
            F.col("c")
            * F.expr(
                f"cast(round(ln(cast(c as double)) * {_ENT_GRID})"
                " as bigint)"
            )
        )
        .cast("bigint")
        .alias("slnq"),
    )
    return s.select(
        F.col("big_n").alias("n_trigrams"),
        "n_distinct",
        F.expr(
            "cast(round((ln(cast(big_n as double))"
            f" - cast(slnq as double) / {_ENT_GRID}.0"
            " / cast(big_n as double)) * 1000000) as bigint)"
        ).alias("entropy_e6"),
    )


@query(
    "ts_source_vocab_jaccard",
    oracle="""
    WITH wv AS (
      SELECT DISTINCT source, w FROM (
        SELECT source,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM read_parquet('{sf}/documents.parquet')
      ) WHERE length(w) >= 1
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM wv GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS ni
      FROM wv a JOIN wv b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.ni AS n_common,
           CAST((10000 * i.ni) // (sa.n + sb.n - i.ni) AS BIGINT)
             AS jaccard_e4
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    tags=("text-stats", "corpus-mix", "set-similarity"),
)
def ts_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY Jaccard between sources — the corpus-mix
    redundancy matrix: two sources whose word sets overlap heavily are
    near-substitutes in a training mixture (dropping one costs little
    coverage), while a low-overlap source contributes unique tokens —
    the slice-level complement to the document-level dedup family.
    Computed on the word-keyed inverted index (pairs sharing >= 1 word
    only, the same candidate discipline as dedup_ngram_jaccard), with
    |A union B| = |A| + |B| - |A intersect B| in exact int64 and an e4
    readout.

    Scale: the corpus reduces to the DISTINCT (source, word) frame
    once; the self-join key is the word (vocabulary-sized), and the
    output is source-catalog^2-bounded. A hot stop-word key fans out
    at most |sources|^2 pairs — catalog-bounded, unlike the
    document-level analog that needs the df cap."""
    docs = load_table(spark, sf_dir, "documents")
    wv = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), "\\s+")).alias("w"),
        )
        .filter(F.length("w") >= 1)
        .distinct()
    )
    sizes = wv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    b = wv.select(F.col("source").alias("src_b"), F.col("w").alias("wb"))
    inter = (
        wv.select(F.col("source").alias("src_a"), "w")
        .join(b, (F.col("w") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("ni").alias("n_common"),
            F.expr(
                "cast((10000 * ni) div (na + nb - ni) as bigint)"
            ).alias("jaccard_e4"),
        )
    )


_TSW_SHARDS = 8


@query(
    "ts_tdigest_token_weighted_len",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id AS id, n_chars AS qv,
             CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                  AS BIGINT) AS wt,
             CAST(('0x' || substr(md5('tw:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % {_TSW_SHARDS} AS shard
      FROM read_parquet('{{sf}}/documents.parquet')
      WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), ranked AS (
      SELECT shard, qv, wt,
             sum(wt) OVER (PARTITION BY shard ORDER BY qv, id) AS wend,
             sum(wt) OVER (PARTITION BY shard) AS m
      FROM docs
    ), wr AS (
      SELECT shard, qv, wt, m,
             wend - wt + ((wt + 1) // 2) AS r
      FROM ranked
    ), bs AS (
      SELECT shard, qv, wt, side, l,
             ({DIGEST_DELTA} * (d - (CAST(1 AS BIGINT) << l)))
               // (CAST(1 AS BIGINT) << l) AS sub
      FROM (SELECT shard, qv, wt, side, d, length(bin(d)) - 1 AS l
            FROM (SELECT shard, qv, wt,
                         least(r, m + 1 - r) AS d,
                         CASE WHEN r * 2 <= m + 1 THEN 0 ELSE 1 END AS side
                  FROM wr))
    ), c1 AS (
      SELECT shard, side, l, sub,
             CAST(sum(wt) AS BIGINT) AS cnt,
             CAST(sum(qv * wt) AS BIGINT) AS sum_qv,
             min(qv) AS min_qv, max(qv) AS max_qv
      FROM bs GROUP BY shard, side, l, sub
    ), co AS (
      SELECT cnt, sum_qv, min_qv, max_qv,
             CAST(sum(cnt) OVER (ORDER BY min_qv, max_qv, tb)
                  AS BIGINT) AS wend,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM (SELECT *,
                   CAST(shard AS VARCHAR) || ':' || CAST(side AS VARCHAR)
                     || ':' || CAST(l AS VARCHAR) || ':'
                     || CAST(sub AS VARCHAR) AS tb
            FROM c1)
    ), m4 AS (
      SELECT cnt, sum_qv, min_qv, max_qv, side, l,
             ({DIGEST_DELTA2} * (d - (CAST(1 AS BIGINT) << l)))
               // (CAST(1 AS BIGINT) << l) AS sub
      FROM (SELECT cnt, sum_qv, min_qv, max_qv, side, d,
                   length(bin(d)) - 1 AS l
            FROM (SELECT cnt, sum_qv, min_qv, max_qv,
                         least(rmid, n + 1 - rmid) AS d,
                         CASE WHEN rmid * 2 <= n + 1 THEN 0 ELSE 1 END
                           AS side
                  FROM (SELECT cnt, sum_qv, min_qv, max_qv, n,
                               wend - cnt + ((cnt + 1) // 2) AS rmid
                        FROM co)))
    ), c2 AS (
      SELECT side, l, sub,
             CAST(sum(cnt) AS BIGINT) AS cnt,
             CAST(sum(sum_qv) AS BIGINT) AS sum_qv,
             min(min_qv) AS min_qv, max(max_qv) AS max_qv
      FROM m4 GROUP BY side, l, sub
    ), cm AS (
      SELECT cnt, sum_qv, min_qv, max_qv,
             CAST(sum(cnt) OVER (ORDER BY min_qv, max_qv, side, l, sub)
                  AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM c2
    ), hits AS (
      SELECT p.p_permille, c.cnt, c.sum_qv, c.min_qv, c.max_qv, c.n
      FROM cm c, (SELECT unnest([500, 900, 990]) AS p_permille) p
      WHERE c.cum >= greatest(1, (p.p_permille * c.n + 999) // 1000)
        AND c.cum - c.cnt
              < greatest(1, (p.p_permille * c.n + 999) // 1000)
    )
    SELECT CAST(p_permille AS BIGINT) AS p_permille,
           CAST(CASE WHEN sum_qv >= 0 THEN sum_qv // cnt
                     ELSE -((-sum_qv) // cnt) END AS BIGINT) AS est_len,
           min_qv AS c_min_len, max_qv AS c_max_len, n AS total_tokens
    FROM hits
    """,
    tags=("sketch", "quantiles", "tdigest", "weighted", "text"),
)
def ts_tdigest_token_weighted_len(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKEN-WEIGHTED document-length quantiles via the weighted
    tail-biased rank digest: every document weighted by its whitespace
    token count, so the readout is the length distribution AS THE
    TRAINING LOSS SEES IT (the median TOKEN lives in a p_500 document
    of est_len chars — typically far above the doc-weighted median,
    because long documents contribute proportionally more tokens). The
    doc-weighted vs token-weighted gap is the standard curation
    diagnostic for length skew before sequence packing. Same
    deterministic construction as ev_quantile_tdigest with weighted
    cumulative ranks (operators/sketches.biased_digest_local
    weight_col; the merge stage is weight-native already); all integer
    arithmetic, full oracle replay.

    Scale: one shard-partitioned weighted-rank window over documents,
    then bounded centroid frames; weights ride the same shuffle."""
    from ..operators.sketches import (
        biased_digest_local,
        biased_digest_merge,
        biased_digest_quantiles,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
        .select(
            F.col("doc_id").alias("id"),
            F.col("n_chars").cast("bigint").alias("qv"),
            F.expr(
                "cast(size(split(trim(text), '\\\\s+')) as bigint)"
            ).alias("wt"),
            (
                hash32(
                    F.concat(F.lit("tw:"), F.col("doc_id").cast("string"))
                )
                % _TSW_SHARDS
            ).alias("shard"),
        )
    )
    c1 = biased_digest_local(
        docs, "shard", "qv", "id", weight_col="wt"
    )
    c1 = c1.withColumn(
        "tb",
        F.concat_ws(
            ":",
            F.col("shard").cast("string"),
            F.col("side").cast("string"),
            F.col("l").cast("string"),
            F.col("sub").cast("string"),
        ),
    )
    digest = biased_digest_merge(c1)
    out = biased_digest_quantiles(digest, permille=(500, 900, 990))
    return out.select(
        "p_permille",
        F.col("est_e6").alias("est_len"),
        F.col("c_min_e6").alias("c_min_len"),
        F.col("c_max_e6").alias("c_max_len"),
        F.col("n").alias("total_tokens"),
    )


@query(
    "ts_kneser_ney_bigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, i, w[i] AS cur,
             CASE WHEN i > 1 THEN w[i - 1] END AS prev
      FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM read_parquet('{sf}/documents.parquet')),
           UNNEST(generate_series(1, len(w))) AS g(i)
    ), bt AS (
      SELECT prev AS p, cur AS c, count(*) AS bc
      FROM tok WHERE prev IS NOT NULL GROUP BY p, c
    ), ctx AS (
      SELECT p, sum(bc) AS cp, count(*) AS n1p FROM bt GROUP BY p
    ), cont AS (
      SELECT c, count(*) AS n1w FROM bt GROUP BY c
    ), tots AS (SELECT count(*) AS t FROM bt),
    vocab AS (SELECT count(DISTINCT cur) AS v FROM tok),
    sb AS (
      SELECT source, prev AS p, cur AS c, count(*) AS cnt
      FROM tok WHERE prev IS NOT NULL GROUP BY source, p, c
    ), scored AS (
      SELECT sb.source, sb.cnt,
             CAST(round(-ln((bt.bc - 0.75) / CAST(ctx.cp AS DOUBLE)
                        + 0.75 * CAST(ctx.n1p AS DOUBLE)
                          / CAST(ctx.cp AS DOUBLE)
                          * (CAST(cont.n1w AS DOUBLE)
                             / CAST(tots.t AS DOUBLE)))
                        * 1048576) AS BIGINT) AS qkn,
             CAST(round(-ln((bt.bc + 1)
                            / (CAST(ctx.cp AS DOUBLE) + vocab.v))
                        * 1048576) AS BIGINT) AS qa1
      FROM sb
      JOIN bt ON bt.p = sb.p AND bt.c = sb.c
      JOIN ctx ON ctx.p = sb.p
      JOIN cont ON cont.c = sb.c
      CROSS JOIN tots CROSS JOIN vocab
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(sum(cnt * qkn) AS BIGINT) AS qsum_kn,
           CAST(sum(cnt * qa1) AS BIGINT) AS qsum_add1,
           CAST(CAST(sum(cnt * qkn) AS BIGINT) AS DOUBLE)
             / 1048576.0 / sum(cnt) AS avg_nll_kn,
           CAST(CAST(sum(cnt * qa1) AS BIGINT) AS DOUBLE)
             / 1048576.0 / sum(cnt) AS avg_nll_add1
    FROM scored GROUP BY source
    """,
    tags=("textstats", "quality", "lm-filter", "kneser-ney"),
)
def ts_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999's benchmark winner) scored per source, head-to-head
    against the add-one baseline ts_bigram_logprob uses —
    P_KN(w|p) = (c(p,w) − D)/c(p·) + D·N1+(p·)/c(p·) · N1+(·w)/|bigram
    types| with D = 0.75: absolute discounting plus the CONTINUATION
    probability (how many distinct contexts a word follows) that makes
    KN the standard n-gram smoother — 'Francisco' is frequent but only
    ever follows 'San', so its continuation mass is tiny where add-one
    overpays. Tests pin avg_nll_kn < avg_nll_add1 per source (the
    model-quality claim, measurable because both score the same
    stream). Spark-first: scoring happens at BIGRAM-TYPE granularity —
    tokens collapse to (source, prev, cur, count) FIRST, then one join
    chain against the type-level stat tables (context totals,
    continuation fan-ins, two scalar subqueries), so the join
    volume is bounded by observed-bigram vocabulary (Heaps-sublinear),
    never token volume. Per-type NLL quantizes to the 2^-20 grid
    (bigram_logprob discipline) so all aggregates are exact int64."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).alias("i0", "cur"),
    ).select(
        "doc_id",
        "source",
        "cur",
        F.lag("cur").over(W.partitionBy("doc_id").orderBy("i0")).alias("prev"),
    )
    big = tok.filter(F.col("prev").isNotNull())
    bt = big.groupBy(
        F.col("prev").alias("p"), F.col("cur").alias("c")
    ).agg(F.count(F.lit(1)).alias("bc"))
    ctx = bt.groupBy("p").agg(
        F.sum("bc").alias("cp"), F.count(F.lit(1)).alias("n1p")
    )
    cont = bt.groupBy("c").agg(F.count(F.lit(1)).alias("n1w"))
    t = bt.agg(F.count(F.lit(1))).scalar()
    v = tok.agg(F.countDistinct("cur")).scalar()
    sb = big.groupBy(
        "source", F.col("prev").alias("p"), F.col("cur").alias("c")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    joined = sb.join(bt, ["p", "c"]).join(ctx, "p").join(cont, "c")
    p_kn = (F.col("bc") - F.lit(0.75)) / F.col("cp").cast("double") + F.lit(
        0.75
    ) * F.col("n1p").cast("double") / F.col("cp").cast("double") * (
        F.col("n1w").cast("double") / t.cast("double")
    )
    p_a1 = (F.col("bc") + F.lit(1)) / (F.col("cp").cast("double") + v)
    scored = joined.select(
        "source",
        "cnt",
        F.round(-F.log(p_kn) * F.lit(1048576)).cast("bigint").alias("qkn"),
        F.round(-F.log(p_a1) * F.lit(1048576)).cast("bigint").alias("qa1"),
    )
    return scored.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("cnt") * F.col("qkn")).cast("bigint").alias("qsum_kn"),
        F.sum(F.col("cnt") * F.col("qa1")).cast("bigint").alias("qsum_add1"),
        (
            F.sum(F.col("cnt") * F.col("qkn")).cast("bigint").cast("double")
            / F.lit(1048576.0)
            / F.sum("cnt")
        ).alias("avg_nll_kn"),
        (
            F.sum(F.col("cnt") * F.col("qa1")).cast("bigint").cast("double")
            / F.lit(1048576.0)
            / F.sum("cnt")
        ).alias("avg_nll_add1"),
    )


_RAKE_STOPS = (
    "the", "of", "and", "a", "in", "to", "is", "for", "on", "with",
)


@query(
    "ts_rake_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, i, w[i] AS w
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM read_parquet('{{sf}}/documents.parquet')),
           UNNEST(generate_series(1, len(w))) AS g(i)
    ), members AS (
      SELECT doc_id, i, w,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS run
      FROM tok
      WHERE w NOT IN {_RAKE_STOPS!r}
    ), sized AS (
      SELECT doc_id, run, i, w,
             count(*) OVER (PARTITION BY doc_id, run) AS plen
      FROM members
    ), wstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg FROM sized GROUP BY w
    ), scored AS (
      SELECT s.doc_id, s.run, s.i, s.w,
             CAST(round(CAST(deg AS DOUBLE) / freq * 1048576) AS BIGINT)
               AS wq
      FROM sized s JOIN wstats USING (w)
    ), phrases AS (
      SELECT doc_id, run,
             string_agg(w, ' ' ORDER BY i) AS phrase,
             CAST(sum(wq) AS BIGINT) AS score_q,
             count(*) AS n_words
      FROM scored GROUP BY doc_id, run
    )
    SELECT phrase, score_q,
           CAST(max(n_words) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM phrases GROUP BY phrase, score_q
    ORDER BY score_q DESC, phrase LIMIT 20
    """,
    tags=("textstats", "rake", "keywords", "W3"),
)
def ts_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — candidate phrases
    are maximal stopword-free token runs (gaps-and-islands: run id =
    position − rank-among-kept, one per-doc window), each word scores
    degree/frequency over the phrase corpus (degree counts the full
    length of every phrase the word appears in — long-phrase words
    outrank bare frequent words, RAKE's core idea), and a phrase
    scores the sum of its words' scores. Word scores quantize onto the
    2^-20 grid after ONE exact-int division, so phrase sums are exact
    int64 and identical phrase TEXT always carries identical score —
    letting the final readout aggregate candidates across documents
    and emit the global top-20 (score desc, phrase tiebreak,
    TakeOrdered). Shuffles: the per-doc islands window, word stats
    (vocabulary-bounded), one stat join back, the phrase reduction —
    all map-side-combining hash aggregations; nothing corpus-quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).alias("i0", "w"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w")
    members = tok.filter(~F.col("w").isin(*_RAKE_STOPS)).withColumn(
        "run",
        F.col("i")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("i")),
    )
    sized = members.withColumn(
        "plen", F.count(F.lit(1)).over(W.partitionBy("doc_id", "run"))
    )
    wstats = sized.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    scored = sized.join(wstats, "w").select(
        "doc_id",
        "run",
        "i",
        "w",
        F.round(F.col("deg").cast("double") / F.col("freq") * F.lit(1048576))
        .cast("bigint")
        .alias("wq"),
    )
    phrases = scored.groupBy("doc_id", "run").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s.w,
            ),
            " ",
        ).alias("phrase"),
        F.sum("wq").cast("bigint").alias("score_q"),
        F.count(F.lit(1)).alias("n_words"),
    )
    return (
        phrases.groupBy("phrase", "score_q")
        .agg(
            F.max("n_words").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("score_q"), "phrase")
        .limit(20)
        .select("phrase", "score_q", "n_words", "n_occurrences")
    )


# BM25 shares the idf-grid contract of ts_tfidf_topk but on a COARSER
# 2^16 grid: the final score multiplies idf_q by tf·sl (corpus token
# count), so the grid cedes 4 bits of idf precision to buy int64
# headroom — 22·idf_q·tf·sl stays < 2^63 up to ~10^9-token corpora
# (22 · 1.1e6 · 100 · 2.7e8 ≈ 6.5e17); past that, re-derive the grid
# or hugeint-stage the product.
_BM25_GRID = 1 << 16


@query(
    "ts_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{{sf}}/documents.parquet')
    ), tf AS MATERIALIZED (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), tf2 AS MATERIALIZED (
      SELECT doc_id, token, tf,
             CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
      FROM tf
    ), corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sl
      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf2 GROUP BY doc_id)
    ), df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), idf AS (
      SELECT token, df,
             CAST(round(ln(1 + ((n_docs - df) + 0.5) / (df + 0.5))
                        * {_BM25_GRID}) AS BIGINT) AS idf_q,
             n_docs, sl
      FROM df, corpus
    ), scored AS (
      SELECT tf2.doc_id, tf2.token, tf2.tf,
             (22 * idf.idf_q * tf2.tf * idf.sl)
               // (10 * idf.sl * tf2.tf + 3 * idf.sl
                   + 9 * tf2.dl * idf.n_docs) AS score_q
      FROM tf2 JOIN idf ON idf.token = tf2.token
    ), ranked AS (
      SELECT doc_id, token, tf, score_q,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_q DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, token, tf, score_q,
           CAST(score_q AS DOUBLE) / {_BM25_GRID}.0 AS bm25
    FROM ranked WHERE rk <= 3
    """,
    tags=("text-retrieval", "bm25", "pipeline"),
)
def ts_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 Okapi BM25 terms per document (Robertson & Walker, SIGIR
    1994; k1=1.2, b=0.75) — the ranking function behind lexical
    retrieval and the standard relevance signal for retrieval-augmented
    corpus curation, where tf-idf over-rewards long documents. The
    whole score is exact integer rational arithmetic: with avgdl=sl/n
    the denominator tf + k1·(1−b+b·dl/avgdl) is cleared of fractions by
    ×10·sl, giving score_q = (22·idf_q·tf·sl) div
    (10·sl·tf + 3·sl + 9·dl·n) — an all-positive truncating division
    that Spark `div` and DuckDB `//` agree on bit-for-bit. idf uses the
    always-positive Lucene form ln(1+(n−df+0.5)/(df+0.5)) on the 2^16
    grid (see _BM25_GRID headroom note). Plan: THREE exchanges — tf
    groups on (doc,token); dl is a window sum over doc_id (reused by
    the final per-doc top-3 window, which therefore sorts WITHOUT a new
    exchange since the broadcast idf join preserves partitioning); df
    re-groups tf's output on the vocabulary. Corpus scalars are scalar
    subqueries projected onto the vocabulary-sized idf frame, which is
    broadcast — a vocabulary fits any executor; at web scale a min-df
    prune caps it."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf2 = tf.withColumn(
        "dl", F.sum("tf").over(W.partitionBy("doc_id")).cast("bigint")
    )
    corpus = (
        tf2.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sl"),
        )
        .select(F.struct("*"))
        .scalar()
    )
    dfreq = tf.groupBy(F.col("token").alias("df_token")).agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    idf = dfreq.withColumn("corpus", corpus).select("*", "corpus.*").select(
        "df_token",
        F.round(
            F.log(
                F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            )
            * F.lit(_BM25_GRID)
        )
        .cast("bigint")
        .alias("idf_q"),
        "n_docs",
        "sl",
    )
    scored = tf2.join(
        F.broadcast(idf), F.col("df_token") == F.col("token")
    ).withColumn(
        "score_q",
        F.expr(
            "(22 * idf_q * tf * sl) div "
            "(10 * sl * tf + 3 * sl + 9 * dl * n_docs)"
        ),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "score_q",
            (F.col("score_q").cast("double") / F.lit(float(_BM25_GRID))).alias(
                "bm25"
            ),
        )
    )


# JSD restricts to the corpus top-500 tokens + one OOV bucket: the
# bounded-vocabulary form monitoring systems actually deploy (fixed
# comparison space => estimator comparable across runs, compute bounded
# by 501*n_sources regardless of corpus size). All lns are of EXACT
# integer products (a*NB etc.), quantized per value on the 2^20 grid,
# so the weighted sums replay bit-for-bit.
_JSD_TOPK = 500
_JSD_GRID = 1 << 20


@query(
    "ts_jsd_source_drift",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{{sf}}/documents.parquet')
    ), cnt AS MATERIALIZED (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ), corpus AS (
      SELECT token, CAST(sum(c) AS BIGINT) AS b FROM cnt GROUP BY token
    ), vocab AS (
      SELECT token FROM corpus ORDER BY b DESC, token LIMIT {_JSD_TOPK}
    ), mapped AS MATERIALIZED (
      SELECT source,
             CASE WHEN token IN (SELECT token FROM vocab)
                  THEN token ELSE '<oov>' END AS sym,
             CAST(sum(c) AS BIGINT) AS a
      FROM cnt GROUP BY 1, 2
    ), csym AS MATERIALIZED (
      SELECT sym, CAST(sum(a) AS BIGINT) AS b
      FROM mapped GROUP BY sym
    ), na AS (
      SELECT source, CAST(sum(a) AS BIGINT) AS n_src FROM mapped GROUP BY source
    ), nb AS (
      SELECT CAST(sum(b) AS BIGINT) AS n_all FROM csym
    ), grid AS (
      SELECT s.source, c.sym, coalesce(m.a, 0) AS a, c.b, na.n_src, nb.n_all
      FROM (SELECT DISTINCT source FROM mapped) s
      CROSS JOIN csym c
      LEFT JOIN mapped m ON m.source = s.source AND m.sym = c.sym
      JOIN na ON na.source = s.source, nb
    ), terms AS (
      SELECT source, n_src, n_all,
             CASE WHEN a > 0 THEN a *
               (CAST(round(ln(2.0 * a * n_all) * {_JSD_GRID}) AS BIGINT)
                - CAST(round(ln(CAST(a * n_all + b * n_src AS DOUBLE))
                             * {_JSD_GRID}) AS BIGINT))
             ELSE 0 END AS t1,
             b * (CAST(round(ln(2.0 * b * n_src) * {_JSD_GRID}) AS BIGINT)
                  - CAST(round(ln(CAST(a * n_all + b * n_src AS DOUBLE))
                               * {_JSD_GRID}) AS BIGINT)) AS t2
      FROM grid
    ), sums AS (
      SELECT source, n_src, n_all,
             CAST(sum(t1) AS BIGINT) AS kl1_num,
             CAST(sum(t2) AS BIGINT) AS kl2_num
      FROM terms GROUP BY 1, 2, 3
    )
    SELECT source, n_src,
           kl1_num, kl2_num,
           CAST(CASE WHEN kl1_num >= 0 THEN kl1_num // (2 * n_src)
                ELSE -((-kl1_num) // (2 * n_src)) END
              + CASE WHEN kl2_num >= 0 THEN kl2_num // (2 * n_all)
                ELSE -((-kl2_num) // (2 * n_all)) END AS BIGINT) AS jsd_q
    FROM sums
    """,
    tags=("textstats", "drift", "jsd", "ln-grid"),
)
def ts_jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the corpus (Lin, IEEE-IT 1991) — the symmetric, bounded [0,ln2]
    drift score corpus-mix monitoring prefers over PSI's value-bucket
    form (dq_psi_drift) when the drifting thing is VOCABULARY; a source
    whose JSD jumps is pasting different text, not just more of it.
    Comparison space is the corpus top-500 tokens + an '<oov>' bucket
    (see _JSD_TOPK note). Every term is exact: with p=a/NA, q=b/NB,
    m=(p+q)/2, the log-ratio collapses to ln(2a*NB) − ln(a*NB + b*NA)
    — lns of exact integers, each quantized onto the 2^20 grid — and
    the KL sums stage as int64 Σ a·Δlnq before ONE sign-split division
    per KL (sums are ≥0 mathematically; the split guards grid jitter
    near 0). Plan: (source,token) counts [exchange 1, map-side
    partial]; vocabulary re-agg + TakeOrderedAndProject top-500;
    OOV-collapse re-group; the scoring grid is sources × 501 symbols —
    catalog-bounded — built by crossJoin(broadcast(csym)) + one
    broadcast left join; final per-source sums are exchange-free on
    the grid's partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("token"),
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("source", "token").agg(
        F.sum(F.lit(1)).cast("bigint").alias("c")
    )
    corpus = cnt.groupBy("token").agg(F.sum("c").cast("bigint").alias("b"))
    vocab = corpus.orderBy(F.desc("b"), F.asc("token")).limit(_JSD_TOPK)
    mapped = (
        cnt.join(
            F.broadcast(vocab.select(F.col("token").alias("vtok"))),
            F.col("token") == F.col("vtok"),
            "left",
        )
        .select(
            "source",
            F.coalesce(F.col("vtok"), F.lit("<oov>")).alias("sym"),
            "c",
        )
        .groupBy("source", "sym")
        .agg(F.sum("c").cast("bigint").alias("a"))
    )
    csym = mapped.groupBy("sym").agg(F.sum("a").cast("bigint").alias("b"))
    na = mapped.groupBy("source").agg(
        F.sum("a").cast("bigint").alias("n_src")
    )
    n_all = csym.agg(F.sum("b").cast("bigint")).scalar()
    msrc = mapped.select(
        F.col("source").alias("msrc"),
        F.col("sym").alias("msym"),
        "a",
    )
    grid = (
        na.crossJoin(F.broadcast(csym))
        .join(
            msrc,
            (F.col("source") == F.col("msrc"))
            & (F.col("sym") == F.col("msym")),
            "left",
        )
        .drop("msrc", "msym")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0)).cast("bigint"))
        .withColumn("n_all", n_all)
    )
    lnq = lambda c: F.round(F.log(c) * F.lit(_JSD_GRID)).cast(  # noqa: E731
        "bigint"
    )
    mix = (F.col("a") * F.col("n_all") + F.col("b") * F.col("n_src")).cast(
        "double"
    )
    terms = grid.select(
        "source",
        "n_src",
        "n_all",
        F.when(
            F.col("a") > 0,
            F.col("a")
            * (lnq(F.lit(2.0) * F.col("a") * F.col("n_all")) - lnq(mix)),
        )
        .otherwise(F.lit(0))
        .alias("t1"),
        (
            F.col("b")
            * (lnq(F.lit(2.0) * F.col("b") * F.col("n_src")) - lnq(mix))
        ).alias("t2"),
    )
    sums = terms.groupBy("source", "n_src", "n_all").agg(
        F.sum("t1").cast("bigint").alias("kl1_num"),
        F.sum("t2").cast("bigint").alias("kl2_num"),
    )
    return sums.select(
        "source",
        "n_src",
        "kl1_num",
        "kl2_num",
        F.expr(
            "cast((case when kl1_num >= 0 then kl1_num div (2 * n_src)"
            " else -((-kl1_num) div (2 * n_src)) end)"
            " + (case when kl2_num >= 0 then kl2_num div (2 * n_all)"
            " else -((-kl2_num) div (2 * n_all)) end) as bigint)"
        ).alias("jsd_q"),
    )


def _textrank_oracle(k: int) -> str:
    """Unrolled k-round PageRank twin over the word co-occurrence
    graph (the graph family's _pagerank_oracle discipline applied to
    text: DuckDB cannot aggregate in a recursive CTE leg, so the loop
    unrolls into chained CTEs; identical 2^20 integer-grid arithmetic,
    floor shares, damping 17 div 20)."""
    sql = """
    WITH tok AS MATERIALIZED (
      SELECT doc_id, i, t[i] AS w
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM read_parquet('{sf}/documents.parquet')),
           UNNEST(generate_series(1, len(t))) AS g(i)
    ), vocab AS MATERIALIZED (
      SELECT w FROM tok GROUP BY w HAVING count(*) >= 5
    ), big AS MATERIALIZED (
      SELECT a.w AS x, b.w AS y
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE a.w != b.w
        AND a.w IN (SELECT w FROM vocab)
        AND b.w IN (SELECT w FROM vocab)
      GROUP BY a.w, b.w HAVING count(*) >= 2
    ), edges AS MATERIALIZED (
      SELECT x AS u, y AS v FROM big
      UNION
      SELECT y, x FROM big
    ), deg AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), r0 AS (
      SELECT u AS node, CAST(1048576 AS BIGINT) AS r FROM deg
    )"""
    for i in range(1, k + 1):
        sql += f""", r{i} AS (
      SELECT e.v AS node,
             CAST((sum(r.r // d.d) * 17) // 20
                  + (1048576 * 3) // 20 AS BIGINT) AS r
      FROM edges e
      JOIN deg d ON d.u = e.u
      JOIN r{i - 1} r ON r.node = e.u
      GROUP BY e.v
    )"""
    return sql + f"""
    SELECT node AS token, r AS rank_q
    FROM r{k}
    ORDER BY r DESC, node LIMIT 30
    """


@query(
    "ts_textrank_keywords",
    oracle=_textrank_oracle(5),
    tags=("textstats", "keywords", "textrank", "pagerank"),
)
def ts_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    the graph-centrality complement to RAKE's degree/frequency scoring
    (ts_rake_keywords): words become nodes, adjacent-word
    co-occurrences become undirected edges (corpus-count >= 5 words,
    pair-count >= 2 edges — the standard noise gates), and 5 PageRank
    rounds rank words by how much attention the co-occurrence
    structure funnels into them. The LOOP is the graph family's
    operators/graph.pagerank_loop VERBATIM — same integer rank grid,
    floor shares, damping 17/20, per-round localCheckpoint — applied
    to string-keyed nodes (the operator is key-type-agnostic), which
    is the point: one iterative-graph operator serves both the
    entity graph and the text graph. Plan: tokenize+posexplode
    [narrow], bigram self-join on (doc, i+1) [one doc-keyed
    exchange], count gates shrink the graph to the frequent-pair
    core (vocabulary-sized, NOT corpus-sized), then the loop's
    per-round join+groupBy runs on that bounded edge frame; the
    final top-30 is TakeOrderedAndProject."""
    from ..operators.graph import pagerank_loop

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "\\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("i", "w"),
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= 5
    )
    nxt = tok.select(
        F.col("doc_id").alias("doc2"),
        (F.col("i") - 1).alias("i2"),
        F.col("w").alias("y"),
    )
    big = (
        tok.join(
            nxt,
            (F.col("doc_id") == F.col("doc2")) & (F.col("i") == F.col("i2")),
        )
        .filter(F.col("w") != F.col("y"))
        .join(F.broadcast(vocab.select(F.col("w").alias("vx"))),
              F.col("w") == F.col("vx"))
        .join(F.broadcast(vocab.select(F.col("w").alias("vy"))),
              F.col("y") == F.col("vy"))
        .groupBy(F.col("w").alias("x"), "y")
        .agg(F.count(F.lit(1)).alias("pc"))
        .filter(F.col("pc") >= 2)
        .select("x", "y")
    )
    edges = big.select(
        F.col("x").alias("u"), F.col("y").alias("v")
    ).union(big.select(F.col("y").alias("u"), F.col("x").alias("v"))).distinct()
    ranks = pagerank_loop(edges, src="u", dst="v", k=5)
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(30)
        .select(F.col("node").alias("token"), F.col("r").alias("rank_q"))
    )


@query(
    "ts_ocr_garbage_detect",
    oracle="""
    WITH feat AS (
      SELECT source,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               AS n_nonalnum,
             CAST(coalesce(list_max(list_transform(
                 regexp_extract_all(lower(text),
                                    '[bcdfghjklmnpqrstvwxz]+'),
                 x -> length(x))), 0) AS BIGINT) AS max_run,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> length(w) = 1)) AS n_single,
             len(list_filter(regexp_split_to_array(trim(lower(text)),
                                                   '\\s+'),
                             w -> regexp_matches(w, '[0-9]')
                                  AND regexp_matches(w, '[a-z]')))
               AS n_mixed
      FROM read_parquet('{sf}/documents.parquet')
    ), flagged AS (
      SELECT source, max_run,
             (max_run >= 7) AS f_run,
             (10 * n_nonalnum > n_chars) AS f_symbol,
             (5 * n_single > n_tokens) AS f_single,
             n_mixed
      FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE f_run OR f_symbol OR f_single)
                AS BIGINT) AS n_garbage,
           CAST(count(*) FILTER (WHERE f_run) AS BIGINT) AS n_run_flag,
           CAST(count(*) FILTER (WHERE f_symbol) AS BIGINT)
             AS n_symbol_flag,
           CAST(count(*) FILTER (WHERE f_single) AS BIGINT)
             AS n_single_flag,
           CAST(max(max_run) AS BIGINT) AS max_consonant_run,
           CAST(sum(n_mixed) AS BIGINT) AS n_mixed_tokens
    FROM flagged GROUP BY source
    """,
    tags=("textstats", "quality", "ocr", "garbage-detection"),
)
def ts_ocr_garbage_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/mojibake garbage-text detector per source — the scanner-era
    failure modes the Gopher battery (ts_gopher_rules) does not target:
    impossible consonant runs ('rnmqx' ligature soup, flagged at a
    longest-run >= 7), symbol floods (>10% non-alphanumeric characters
    — broken encodings render as punctuation), and single-character
    token bursts (>20% of tokens — kerning splits like 'q u a l i t
    y'), with digit-letter mixed tokens ('l0ng', 'O0ps') counted
    alongside as the classic confusion signal. Every rule is an
    integer cross-multiplication (10*n_nonalnum > n_chars, 5*n_single
    > n_tokens — the ts_gopher_rules no-division discipline) over
    counts ONE map-side pass extracts with native regexp/array
    higher-order functions (no UDF: regexp_extract_all + transform +
    array_max for the run length), so the whole gate fuses into the
    scan's codegen stage, then ONE map-side-combinable
    groupBy(source). At 100 TB this is the cheapest per-feed triage
    that tells you WHICH upstream digitization pipeline is broken and
    HOW (per-rule flag counts, not one opaque score)."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "source",
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias(
            "n_chars"
        ),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")
        ).alias("n_nonalnum"),
        F.coalesce(
            F.expr(
                "array_max(transform(regexp_extract_all(lower(text),"
                " '[bcdfghjklmnpqrstvwxz]+', 0), x -> length(x)))"
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_run"),
        F.expr(r"size(split(trim(text), '\\s+'))").alias("n_tokens"),
        F.expr(
            r"size(filter(split(trim(text), '\\s+'),"
            " w -> length(w) = 1))"
        ).alias("n_single"),
        F.expr(
            r"size(filter(split(trim(lower(text)), '\\s+'),"
            " w -> w rlike '[0-9]' and w rlike '[a-z]'))"
        ).alias("n_mixed"),
    )
    flagged = feat.select(
        "source",
        "max_run",
        (F.col("max_run") >= 7).alias("f_run"),
        (10 * F.col("n_nonalnum") > F.col("n_chars")).alias("f_symbol"),
        (5 * F.col("n_single") > F.col("n_tokens")).alias("f_single"),
        "n_mixed",
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("f_run") | F.col("f_symbol") | F.col("f_single"))
            .cast("int")
        ).cast("bigint").alias("n_garbage"),
        F.sum(F.col("f_run").cast("int")).cast("bigint").alias("n_run_flag"),
        F.sum(F.col("f_symbol").cast("int"))
        .cast("bigint")
        .alias("n_symbol_flag"),
        F.sum(F.col("f_single").cast("int"))
        .cast("bigint")
        .alias("n_single_flag"),
        F.max("max_run").cast("bigint").alias("max_consonant_run"),
        F.sum("n_mixed").cast("bigint").alias("n_mixed_tokens"),
    )


@query(
    "ts_yule_k",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM read_parquet('{sf}/documents.parquet')
    ), freq AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS f
      FROM tok WHERE token <> '' GROUP BY source, token
    )
    SELECT source,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(f * f) AS BIGINT) AS s2,
           CAST((CAST(sum(f * f) AS HUGEINT) - sum(f)) * 10000000000
                // (CAST(sum(f) AS HUGEINT) * sum(f)) AS BIGINT)
             AS yule_k_e6
    FROM freq GROUP BY source
    """,
    tags=("text-stats", "lexical-diversity", "yule-k"),
)
def ts_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Yule's K lexical-repetitiveness characteristic
    (Yule, 'The Statistical Study of Literary Vocabulary', 1944):
    K = 1e4 * (S2 - N) / N^2 with N = tokens and S2 = sum of squared
    type frequencies — the length-INVARIANT companion to
    ts_vocab_growth_heaps (type/token ratio falls with length by
    Heaps' law; K doesn't), so template-stamped or looping sources
    stand out at any size, the ts_dup_ngram_coverage signal at
    one-number-per-source cost. Exact integers: yule_k_e6 =
    ((S2 - N) * 1e10) div N^2 (K on the e6 grid; the product staged
    on HUGEINT/decimal(38,0) — S2*1e10 passes int64 only to S2~9e8,
    real for any heavy-headed source at 100 TB). S2's summands f^2
    are int64-safe to per-source type frequencies of ~3e9. Empty
    tokens from leading/trailing whitespace are filtered before
    counting (the file's token-frequency convention). Plan: one
    explode + ONE map-side-combinable groupBy(source, token) — the
    Zipf head collapses before the exchange — then a per-source
    reduction; no window, no join, zero driver state."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    return freq.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("s2"),
        F.expr(
            "cast((cast(sum(f * f) as decimal(38,0)) - sum(f))"
            " * 10000000000"
            " div (cast(sum(f) as decimal(38,0)) * sum(f)) as bigint)"
        ).alias("yule_k_e6"),
    )


@query(
    "ts_mattr",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         t -> t <> '') AS ws
      FROM read_parquet('{sf}/documents.parquet')
    ), big AS (
      SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS l, ws
      FROM tok WHERE len(ws) >= 20
    ), ex AS (
      SELECT doc_id, source, l,
             CAST(i - 1 AS BIGINT) AS p, ws[i] AS token
      FROM big, UNNEST(generate_series(1, len(ws))) AS g(i)
    ), contrib AS (
      SELECT doc_id, source, l,
             greatest(0, least(p, l - 20)
                         - greatest(coalesce(lag(p) OVER (
                             PARTITION BY doc_id, token
                             ORDER BY p), -1), p - 20)) AS c
      FROM ex
    ), per_doc AS (
      SELECT doc_id, source, l,
             CAST(sum(c) * 1000000 // ((l - 19) * 20) AS BIGINT)
               AS mattr_e6
      FROM contrib GROUP BY doc_id, source, l
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mattr_e6) // count(*) AS BIGINT) AS mattr_e6_avg,
           CAST(min(mattr_e6) AS BIGINT) AS mattr_e6_min,
           CAST(max(mattr_e6) AS BIGINT) AS mattr_e6_max
    FROM per_doc GROUP BY source
    """,
    tags=("text-stats", "lexical-diversity", "mattr"),
)
def ts_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Moving-Average Type-Token Ratio (Covington &
    McFall, JQL 2010) at window w=20 — the position-LOCAL lexical
    diversity that completes the family: TTR falls with length
    (Heaps), ts_yule_k is global repetitiveness, MATTR is the mean
    over ALL L-w+1 sliding windows of (types in window)/w, so a
    looping tail in an otherwise-diverse document drags it down where
    K barely moves. The naive form materializes every window (O(L*w)
    rows — a 100-TB corpus cannot). Instead each token position
    contributes in CLOSED FORM: the token at position p with previous
    same-type occurrence p' (-1 if none) is the first of its type in
    exactly the windows that CONTAIN p and START after p' — starts
    s in (max(p', p-w), min(p, L-w)] — so its contribution is
    max(0, min(p, L-w) - max(p', p-w)) (dropping the containment
    bound p-w overcounts long-gap repeats — the mirrored-on-both-
    engines bug this query's own hand fixture caught before it ever
    shipped), and the sum of contributions =
    sum over windows of distinct-type counts, and
    mattr_e6 = 1e6 * sum(c) div ((L-w+1)*w) EXACTLY on the e6 grid —
    one lag window per (doc, token) run replaces the w-fold blowup,
    O(total tokens) state. Tokenization is the file's convention
    (lowercase, split \\s+, drop empties); docs shorter than w have
    no full window and drop out (n_docs counts survivors per
    source). Plan: explode + ONE (doc_id, token)-partitioned lag
    window (doc-bounded partitions — no skew beyond the longest
    document), then two map-side-combinable groupBys; everything is
    exact integers, zero floats anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    big = (
        docs.select(
            "doc_id",
            "source",
            F.expr(
                r"filter(split(lower(text), '\\s+'), t -> t <> '')"
            ).alias("ws"),
        )
        .withColumn("l", F.size("ws").cast("bigint"))
        .filter(F.col("l") >= 20)
    )
    ex = big.select(
        "doc_id",
        "source",
        "l",
        F.posexplode("ws").alias("p", "token"),
    ).select(
        "doc_id", "source", "l",
        F.col("p").cast("bigint").alias("p"), "token",
    )
    lw = W.partitionBy("doc_id", "token").orderBy("p")
    contrib = ex.select(
        "doc_id",
        "source",
        "l",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.col("p"), F.col("l") - 20)
            - F.greatest(
                F.coalesce(
                    F.lag("p").over(lw), F.lit(-1).cast("bigint")
                ),
                F.col("p") - 20,
            ),
        ).alias("c"),
    )
    per_doc = contrib.groupBy("doc_id", "source", "l").agg(
        F.expr(
            "cast(sum(c) * 1000000 div ((l - 19) * 20) as bigint)"
        ).alias("mattr_e6")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "cast(sum(mattr_e6) div count(1) as bigint)"
        ).alias("mattr_e6_avg"),
        F.min("mattr_e6").cast("bigint").alias("mattr_e6_min"),
        F.max("mattr_e6").cast("bigint").alias("mattr_e6_max"),
    )
