"""Deduplication operator queries — reference surface D1-D3 (SURVEY §2.7).

The large-scale near-dup family (MinHash-LSH, SimHash, n-gram Jaccard,
embedding cosine) lives in similarity_queries.py / textstats_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import keys as K
from ..operators.dedup import (
    MAX_SHINGLE_DF,
    NUM_HASHES,
    PPJOIN_TAU_DEN,
    PPJOIN_TAU_NUM,
    ROWS_PER_BAND,
    containment_pairs,
    dedup_hash_backend,
    hash32,
    jaccard_verify,
    lsh_band_signatures,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
    minhash_lsh_incremental,
    minhash_signatures,
    ngram_jaccard_pairs,
    ppjoin_audit,
    ppjoin_pairs,
    shingle_docs,
    simhash_fingerprints,
    simhash_hamming_pairs,
)
from ..session import materialize
from ..sources import fan_out, load_table
from .registry import query


@query(
    "d1_batch_key_dedup",
    oracle="""
    WITH batch AS (
      SELECT event_id, user_id, value,
             sha256('event:' || CAST(event_id AS VARCHAR)) AS key_hash
      FROM read_parquet('{sf}/events.parquet')
      UNION ALL
      SELECT event_id, user_id, value + 1,
             sha256('event:' || CAST(event_id AS VARCHAR)) AS key_hash
      FROM read_parquet('{sf}/events.parquet') WHERE event_id % 5 = 0
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY key_hash
                                   ORDER BY value DESC) AS rn
      FROM batch
    )
    SELECT count(*) AS n_kept,
           count(DISTINCT key_hash) AS n_keys
    FROM ranked WHERE rn = 1
    """,
    tags=("D1", "F2"),
)
def d1_batch_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-batch idempotency-key dedup with deterministic winner
    (reference SHA-256 gate, etl/utils/database.py:49-63; the reference's
    last-statement-wins becomes an explicit row_number pick)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "value",
        K.idempotency_key("event", F.col("event_id")).alias("key_hash"),
    )
    dupes = (
        ev.filter(F.col("event_id") % 5 == 0)
        .select(
            "event_id", "user_id", (F.col("value") + 1).alias("value"),
            K.idempotency_key("event", F.col("event_id")).alias("key_hash"),
        )
    )
    batch = base.unionByName(dupes)
    w = W.partitionBy("key_hash").orderBy(F.desc("value"))
    kept = batch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("key_hash").alias("n_keys"),
    )


@query(
    "d2_natural_key_dedup",
    oracle="""
    WITH expanded AS (
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      UNION ALL
      SELECT -(doc_id + 1), text
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
    ), hashed AS (
      SELECT doc_id, md5(text) AS text_hash FROM expanded
    ), ranked AS (
      SELECT doc_id, text_hash,
             row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
      FROM hashed
    )
    SELECT doc_id, text_hash FROM ranked WHERE rn = 1
    """,
    tags=("D2", "dedup-exact"),
)
def d2_natural_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup removal by content hash, keeping the lowest id (reference
    natural-key uniqueness, db/init/01-schema.sql:21,49; also the exact
    leg of the training-data dedup family). Injected duplicates
    (-(doc_id+1) for every 10th doc — strictly-negative ids stay disjoint
    from the real key space at ANY scale factor, same scheme as the CDC
    fixture) prove collapses happen; the negative copy wins keeper.

    Scale: hash-groupBy shuffles once on md5(text) — uniform keys, no skew;
    this is the canonical 100 TB exact-dedup plan."""
    docs = load_table(spark, sf_dir, "documents")
    expanded = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
        )
    )
    hashed = expanded.select("doc_id", F.md5("text").alias("text_hash"))
    w = W.partitionBy("text_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash")
    )


@query(
    "d3_distinct_sources",
    oracle="""
    SELECT DISTINCT source FROM read_parquet('{sf}/documents.parquet')
    """,
    tags=("D3",),
)
def d3_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visited-set dedup (reference visited_urls set,
    etl/extract/web_scraper.py:67) — distinct() pre-fetch."""
    return load_table(spark, sf_dir, "documents").select("source").distinct()


# ---------------------------------------------------------------------------
# Near-duplicate detection at training-data scale (north-star extension).
# Mutated copies (-(doc_id+1), 3 words appended — negative ids are disjoint
# from real ids at any scale factor) are injected so near-dup
# pairs provably exist; the word-salad corpus itself has none.

_EXPANDED_DOCS_SQL = """
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      UNION ALL
      SELECT -(doc_id + 1), text || ' neardup tail marker'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
"""


def _expanded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" neardup tail marker")).alias("text"),
    )
    # the md5-shingling consumers are CPU-bound; don't let a 2-split scan
    # pin them to 2 cores
    return fan_out(docs.unionByName(mutated))


def _h32_sql(expr: str) -> str:
    """DuckDB twin of operators.dedup.hash32."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def _h32_chunk_sql(expr: str, seed: int, chunk: int) -> str:
    """DuckDB twin of operators.dedup.hash32_chunk."""
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || {expr}), {1 + 8 * chunk}, 8)) "
        "AS BIGINT)"
    )


_SHINGLES_SQL = """
    w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words
          FROM expanded),
    sh AS (SELECT doc_id,
                  unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i,
                  words
           FROM w),
    shingles AS (SELECT DISTINCT doc_id,
                        words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                 FROM sh)
"""

def minhash_pairs_with_list(expanded_sql: str, threshold: float) -> str:
    """DuckDB WITH-list (no leading ``WITH``) culminating in a ``pairs``
    CTE of (doc_a, doc_b, jaccard) near-dup pairs over the given
    ``expanded`` corpus SQL — the oracle twin of
    operators.dedup.minhash_lsh_dedup, reusable by composed queries
    (e.g. the connected-components purge in graph_queries.py)."""
    return (
        "expanded AS (" + expanded_sql + "),\n" + _SHINGLES_SQL + """,
    mh AS (SELECT doc_id, """
        + ", ".join(
            f"min({_h32_chunk_sql('shingle', i // 4, i % 4)}) AS mh{i}"
            for i in range(NUM_HASHES)
        )
        + """
          FROM shingles GROUP BY doc_id),
    bands AS ("""
        + "\n UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, md5("
            + " || ',' || ".join(
                f"CAST(mh{ROWS_PER_BAND * b + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            )
            + ") AS sig FROM mh"
            for b in range(NUM_HASHES // ROWS_PER_BAND)
        )
        + """),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
              FROM cand c
              JOIN shingles sa ON sa.doc_id = c.doc_a
              JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
              GROUP BY c.doc_a, c.doc_b),
    pairs AS (SELECT i.doc_a, i.doc_b,
                     CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) AS jaccard
              FROM inter i
              JOIN sizes na ON na.doc_id = i.doc_a
              JOIN sizes nb ON nb.doc_id = i.doc_b
              WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= """
        + repr(threshold)
        + ")"
    )


_MINHASH_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_EXPANDED_DOCS_SQL, 0.6)
    + "\n    SELECT doc_a, doc_b, jaccard FROM pairs"
)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE,
       tags=("dedup-minhash", "dedup-lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection (shingle → 8 minhashes → 4 banded
    signatures → bucket join → exact-Jaccard verify ≥ 0.6). The candidate
    join is near-linear; only bucket collisions pay the quadratic verify —
    the canonical 100 TB near-dedup plan (operators/dedup.py).

    Hash backend: SPARK_GRAFT_DEDUP_HASH env var — "md5" (default; the
    DuckDB-mirrorable parity path this oracle is written against) or
    "xxhash64" (native codegen'd production path, ~10× cheaper hashing;
    bench.py selects it). The driver's correctness run never sets the
    var, so the oracle always compares against the md5 path."""
    backend = dedup_hash_backend()
    return minhash_lsh_dedup(
        _expanded_docs(spark, sf_dir), backend=backend
    )


_NGRAM_ORACLE = (
    "WITH expanded AS (" + _EXPANDED_DOCS_SQL + "),\n" + _SHINGLES_SQL + f""",
    rare AS (SELECT doc_id, shingle FROM shingles
             QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}),
    cand AS (SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
             FROM rare sa
             JOIN rare sb ON sa.shingle = sb.shingle
                         AND sa.doc_id < sb.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
              FROM cand c
              JOIN shingles sa ON sa.doc_id = c.doc_a
              JOIN shingles sb ON sb.doc_id = c.doc_b
                              AND sb.shingle = sa.shingle
              GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.5
    """
)


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup-jaccard",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the shingle inverted index
    (pairs sharing ≥1 shingle) — exact but heavier than LSH; the verify
    stage of MinHash run standalone at threshold 0.5. Candidate generation
    is guarded by the MAX_SHINGLE_DF stop-gram cap (operators/dedup.py);
    Jaccard values are still computed over the full shingle sets. The
    guarded pipeline lives in operators/dedup.py ngram_jaccard_pairs
    (checkpointed shingle index feeding all plan branches, df-capped
    self-join, full-set verify) so its bounded-blowup property is
    unit-testable on synthetic worst-case corpora."""
    return ngram_jaccard_pairs(
        _expanded_docs(spark, sf_dir),
        threshold=0.5,
    )


_CONTAINMENT_ORACLE = (
    "WITH expanded AS (" + _EXPANDED_DOCS_SQL + "),\n" + _SHINGLES_SQL + f""",
    rare AS (SELECT doc_id, shingle FROM shingles
             QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}),
    cand AS (SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
             FROM rare sa
             JOIN rare sb ON sa.shingle = sb.shingle
                         AND sa.doc_id < sb.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
              FROM cand c
              JOIN shingles sa ON sa.doc_id = c.doc_a
              JOIN shingles sb ON sb.doc_id = c.doc_b
                              AND sb.shingle = sa.shingle
              GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b, i.ni,
           CAST(i.ni AS DOUBLE) / least(na.n, nb.n) AS containment
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.ni AS DOUBLE) / least(na.n, nb.n) >= 0.8
    """
)


@query(
    "dedup_containment_pairs",
    oracle=_CONTAINMENT_ORACLE,
    tags=("dedup-jaccard", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.8 — the
    asymmetric duplicate measure for quotation/subset cases (a short doc
    embedded in a long host scores J ≈ |A|/|B| → 0 but C = 1; exactly
    the pairs a Jaccard-threshold dedup ships to training twice).
    Candidate generation is the same df-capped inverted-index join as
    dedup_ngram_jaccard (bounded blowup); the verify counts full shingle
    sets, so emitted containments are exact integer ratios
    (operators/dedup.py containment_pairs)."""
    return containment_pairs(
        _expanded_docs(spark, sf_dir)
    )


# simhash pipeline as a reusable CTE chain ending in sim(doc_id, simhash);
# shared by the fingerprint query and the hamming-band pair query
_SIMHASH_CTE = (
    "expanded AS (" + _EXPANDED_DOCS_SQL + """),
    tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
            FROM expanded),
    hashed AS (SELECT doc_id, """ + _h32_sql("w") + """ AS h FROM tok),
    votes AS (SELECT doc_id, """
    + ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    + """ FROM hashed GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST("""
    + " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
    )
    + """ AS BIGINT) AS simhash
    FROM votes)"""
)

_SIMHASH_ORACLE = "WITH " + _SIMHASH_CTE + """
    SELECT doc_id, simhash FROM sim
    """


@query("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup-simhash",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (token bit-votes). Near-dups land at
    small hamming distance; fingerprinting is one explode + one groupBy —
    linear, shuffle on doc_id only (operators/dedup.py)."""
    return simhash_fingerprints(_expanded_docs(spark, sf_dir), bits=16)


_HAMMING_ORACLE = "WITH " + _SIMHASH_CTE + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("dedup_simhash_hamming", oracle=_HAMMING_ORACLE, tags=("dedup-simhash",))
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ 3 on the 16-bit SimHash via
    4-bit band blocking (operators/dedup.py simhash_hamming_pairs) —
    candidate-complete by pigeonhole, exact bit_count verify.

    SMALL-BIT TWIN ONLY: 16-bit fingerprints give the band join just
    4 × 16 = 64 distinct keys, so candidates are O(n²/16) BY
    CONSTRUCTION — the r3 bench showed it (5M output pairs at sf0.1),
    and at 100× every band value is a reducer-killing hot key. This
    query exists because 16 bits keeps the DuckDB vote-replay oracle
    tractable; the production path is dedup_simhash64_hamming's 64-bit /
    16-bit-band geometry (4 × 65,536 keys, cardinality grows with the
    corpus)."""
    fp = simhash_fingerprints(_expanded_docs(spark, sf_dir), bits=16)
    return simhash_hamming_pairs(fp, bits=16, band_bits=4, max_hamming=3)


# 64-bit simhash oracle: one md5 digest per token, signed 64-bit rebuild
# from two 32-bit halves (verified identical to Spark's hash64 incl.
# >>/&/xor/bit_count on negatives), 64 ±1 vote sums, then the signed
# bit-sum (bit 63 contributes -2^63). The pair check is the all-pairs
# bit_count(xor) the band-blocked Spark plan must reproduce exactly.
# Copies append ONE token so fingerprints drift ~1-2 bits — the hamming≤3
# result is nonempty but not a degenerate exact-copy set.
_SIMHASH64_CTE = (
    """expanded64 AS (
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      UNION ALL
      SELECT -(doc_id + 1), text || ' zq'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
    ),
    tok64 AS (SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
              FROM expanded64),
    dig AS (SELECT doc_id, md5(w) AS d FROM tok64),
    h64 AS (SELECT doc_id,
                   (CASE WHEN CAST(('0x' || substr(d, 1, 8)) AS BIGINT)
                              >= 2147483648
                         THEN CAST(('0x' || substr(d, 1, 8)) AS BIGINT)
                              - 4294967296
                         ELSE CAST(('0x' || substr(d, 1, 8)) AS BIGINT) END)
                   * 4294967296
                   + CAST(('0x' || substr(d, 9, 8)) AS BIGINT) AS h
            FROM dig),
    votes64 AS (SELECT doc_id, """
    + ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    + """ FROM h64 GROUP BY doc_id),
    sim64 AS (SELECT doc_id, CAST("""
    + " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {(1 << b) if b < 63 else -(1 << 63)} "
        "ELSE 0 END)"
        for b in range(64)
    )
    + """ AS BIGINT) AS simhash
    FROM votes64)"""
)

_HAMMING64_ORACLE = "WITH " + _SIMHASH64_CTE + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim64 a JOIN sim64 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query(
    "dedup_simhash64_hamming",
    oracle=_HAMMING64_ORACLE,
    tags=("dedup-simhash", "production"),
)
def dedup_simhash64_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION simhash near-dup: 64-bit fingerprints, 16-bit bands,
    hamming ≤ 3 — the standard web-dedup geometry (4 × 65,536 band keys
    whose cardinality grows with the corpus, so candidates stay
    near-linear where the 16-bit twin is O(n²/16)). Fingerprints build
    in one codegen'd explode + groupBy vote pass (single doc-id shuffle);
    the band equi-join is candidate-complete for hamming ≤ 3 by
    pigeonhole; the oracle replays the full 64-bit vote pipeline in
    DuckDB and checks pairs all-pairs. Copies get a one-token tail so
    true near-dups sit at hamming 1-3, exercising the non-trivial band
    geometry."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    expanded = fan_out(docs.unionByName(mutated))
    fp = simhash_fingerprints(expanded, bits=64)
    return simhash_hamming_pairs(fp, bits=64, band_bits=16, max_hamming=3)


_FUZZY_ORACLE = """
    WITH c AS (
      SELECT c_custkey, c_name FROM read_parquet('{sf}/customer.parquet')
      WHERE c_custkey < 1000
    ), halves AS (
      SELECT c_custkey, c_name, 0 AS block_id,
             substr(c_name, 10, 5) AS half FROM c
      UNION ALL
      SELECT c_custkey, c_name, 1 AS block_id,
             substr(c_name, 15, 4) AS half FROM c
    ), cand AS (
      SELECT DISTINCT a.c_custkey AS key_a, a.c_name AS name_a,
                      b.c_custkey AS key_b, b.c_name AS name_b
      FROM halves a
      JOIN halves b ON a.block_id = b.block_id AND a.half = b.half
                   AND a.c_custkey < b.c_custkey
    )
    SELECT key_a, key_b, levenshtein(name_a, name_b) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """


@query("j10_fuzzy_name_match", oracle=_FUZZY_ORACLE, tags=("dedup-fuzzy", "entity-resolution"))
def j10_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: customer-name pairs within edit
    distance 1, found by HALF-BLOCKING instead of the all-pairs
    levenshtein the oracle would time out on at scale — a single
    SUBSTITUTION can corrupt only one half of the name's id field, so
    every substitution-distance-≤1 pair collides on the intact half
    (pigeonhole, the simhash-band argument applied to edit distance).
    Completeness caveat: the guarantee covers substitutions only —
    fixed-position windows shift under an insertion/deletion, so a
    single indel before position 15 can corrupt BOTH halves. That is
    exact here (TPC-H names are fixed-format 'Customer#<9 digits>', so
    distance-1 neighbors within the table differ by substitution), and
    the oracle uses identical blocking either way; for variable-length
    names block on length-normalized halves (split at len/2) to cover
    indels. The block equi-join keys are uniform, fingerprinting is
    linear — the fuzzy-dedup plan that survives a customer table 1000×
    this size."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 1000
    ).select("c_custkey", "c_name")
    halves = c.select(
        "c_custkey",
        "c_name",
        F.posexplode(
            F.array(
                F.substring("c_name", 10, 5), F.substring("c_name", 15, 4)
            )
        ).alias("block_id", "half"),
    )
    cand = (
        halves.alias("a")
        .join(
            halves.alias("b"),
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.half") == F.col("b.half"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_custkey").alias("key_b"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    return cand.select(
        "key_a",
        "key_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") <= 1)


_INCREMENTAL_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_EXPANDED_DOCS_SQL, 0.6)
    + """
    SELECT doc_a, doc_b, jaccard FROM pairs
    WHERE doc_a < 0 AND doc_b >= 0
    """
)


@query(
    "dedup_incremental_batch",
    oracle=_INCREMENTAL_ORACLE,
    tags=("dedup-minhash", "dedup-lsh", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW batch against the INDEXED corpus
    (operators/dedup.minhash_lsh_incremental): the injected mutated
    copies (negative ids) play today's crawl, the original documents
    play the persisted index, and only new×indexed pairs are emitted —
    daily cost scales with the batch, never corpus². The oracle is the
    FULL self-join pair set restricted to (negative, non-negative)
    pairs — provably the same set, since ids are sign-disjoint and the
    band/verify chains are identical. Backend flag as in
    dedup_minhash_lsh."""
    backend = dedup_hash_backend()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_batch = fan_out(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" neardup tail marker")).alias(
                "text"
            ),
        )
    )
    return minhash_lsh_incremental(
        new_batch, fan_out(docs), backend=backend
    )


_CALIB_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_EXPANDED_DOCS_SQL, 0.0)
    + """,
    agree AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
             ("""
    + " + ".join(
        f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    + """) AS n_agree
      FROM pairs p
      JOIN mh ma ON ma.doc_id = p.doc_a
      JOIN mh mb ON mb.doc_id = p.doc_b
    )
    SELECT CAST(n_agree AS BIGINT) AS n_agree,
           n_agree / 8.0 AS est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(round(jaccard * 1073741824) AS BIGINT)) AS BIGINT)
             AS qj_sum,
           CAST(CAST(sum(CAST(round(jaccard * 1073741824) AS BIGINT))
                     AS BIGINT) AS DOUBLE) / 1073741824.0 / count(*)
             AS mean_exact_jaccard
    FROM agree GROUP BY n_agree
    """
)


@query(
    "dedup_minhash_calibration",
    oracle=_CALIB_ORACLE,
    tags=("dedup-minhash", "calibration", "evaluation"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator CALIBRATION audit: for every LSH candidate
    pair, the sketch-estimated Jaccard (signature agreement fraction,
    k=8) against the exact Jaccard, aggregated per agreement count —
    the report that tells you whether your banding threshold actually
    sits where the math says it does before you purge a petabyte on it
    (E[agreement] = J; the per-bucket mean exact Jaccard should track
    n_agree/8). Plan: reuses the production signature/candidate chain
    (one signature shuffle, banded candidate join), joins the 1-row-
    per-doc signature table back twice (doc-id equi joins), and
    aggregates onto ≤9 buckets. Exact Jaccards quantize to a 2^-30
    binary grid at the ROW level so the per-bucket sums are exact
    int64 — no decimal casts of arbitrary doubles, no float summation
    order anywhere."""
    backend = dedup_hash_backend()
    docs = _expanded_docs(spark, sf_dir)
    sh = shingle_docs(docs, distinct=False)
    mh = materialize(
        minhash_signatures(sh, backend=backend),
        "dedup_minhash_calibration.mh",
    )
    cand = materialize(
        lsh_candidate_pairs(lsh_band_signatures(mh, backend=backend)),
        "dedup_minhash_calibration.cand",
    )
    # no distinct: the left-semi join dedupes its build side anyway
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    sh_cand = shingle_docs(
        # un-hinted semi-join: cand_ids is not size-bounded at corpus
        # scale, AQE broadcasts it when measured small (r11 verdict)
        docs.join(cand_ids, "doc_id", "left_semi"),
        distinct=False,  # jaccard_verify's collect_set dedupes per doc
    )
    # pruned=True: docs already candidate-only, skip the no-op re-prune
    pairs = jaccard_verify(cand, sh_cand, threshold=0.0, pruned=True)
    ma = mh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)],
    )
    mb = mh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)],
    )
    n_agree = sum(
        (
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(8)
        ),
        F.lit(0),
    )
    qj = F.round(F.col("jaccard") * F.lit(1073741824)).cast("bigint")
    agree = (
        pairs.join(F.broadcast(ma), "doc_a")
        .join(F.broadcast(mb), "doc_b")
        .select(n_agree.alias("n_agree"), qj.alias("qj"))
    )
    return (
        agree.groupBy(F.col("n_agree").cast("bigint").alias("n_agree"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("qj").alias("qj_sum"),
            (
                F.sum("qj").cast("double")
                / F.lit(1073741824.0)
                / F.count(F.lit(1))
            ).alias("mean_exact_jaccard"),
        )
        .select(
            "n_agree",
            (F.col("n_agree") / F.lit(8.0)).alias("est_jaccard"),
            "n_pairs",
            "qj_sum",
            "mean_exact_jaccard",
        )
    )


# PPJoin's τ as the integer pair the oracle twins below spell out
_TN, _TD = PPJOIN_TAU_NUM, PPJOIN_TAU_DEN


@query(
    "dedup_ppjoin_prefix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))) AS token
      FROM read_parquet('{{sf}}/documents.parquet')
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
      FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(count(*) AS BIGINT) AS i
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT da, db,
             (10000 * i) // (sa.sz + sb.sz - i) AS j_e4
      FROM inter
      JOIN sizes sa ON sa.doc_id = da
      JOIN sizes sb ON sb.doc_id = db
      WHERE {_TN + _TD} * i >= {_TN} * (sa.sz + sb.sz)
    ), mx AS (
      SELECT da, db, j_e4,
             max(j_e4) OVER (PARTITION BY da) AS mxj
      FROM pairs
    )
    SELECT da, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(j_e4) AS BIGINT) AS max_j_e4,
           CAST(min(CASE WHEN j_e4 = mxj THEN db END) AS BIGINT) AS best_db
    FROM mx GROUP BY da
    """,
    tags=("dedup-exact-jaccard", "ppjoin", "prefix-filter"),
)
def dedup_ppjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join (τ = 0.95 on
    distinct word sets) via PREFIX FILTERING (SSJoin/PPJoin, Chaudhuri
    et al. ICDE'06 / Xiao et al. WWW'08) — the lossless alternative to
    the probabilistic MinHash band join: with tokens globally ordered
    by (document frequency asc, token), any pair with J ≥ τ must share
    a token inside both docs' first (sz − ceil(τ·sz) + 1) tokens, so an
    equi-join on prefix tokens generates a candidate superset and an
    exact intersection count verifies only those. PPJoin's two extra
    lossless prunes run INSIDE the candidate join — the length filter
    (J ≥ τ forces 19·max(sa,sb) ≤ 20·min(sa,sb)) and the positional
    filter (the first common token at order-positions ra/rb bounds the
    overlap by 1 + min(sa−ra, sb−rb), which must reach α =
    ceil(19·(sa+sb)/39)); on this template-heavy corpus they cut raw
    candidates 13.4M → 1.8M at sf0.1 (measured), and the round-7
    quasi-clique guard cuts that to 960k representative pairs over
    3,935 distinct sets (measured by dedup_ppjoin_audit, which
    hash-checks these very numbers). The threshold test is pure integers
    (J ≥ 0.95 ⟺ 39·i ≥ 19·(sa+sb)); ceil(0.95·sz) = (19·sz + 19)
    div 20 with truncating div on both engines. The oracle brute-forces
    all pairs — same output, quadratic plan — which is exactly the
    point of the technique. Result is the per-doc match summary a
    keeper stage consumes (pair count, best partner by similarity with
    min-id tie-break); the raw pair list is cluster-quadratic and
    stays internal.

    Scale: the only corpus-sized shuffles are token equi-joins; prefix
    tokens are the RAREST by construction (df-ascending order) and the
    positional/length prunes run before any pair materializes twice —
    no all-pairs anywhere. Verification is pair-local: candidates join
    the compact per-doc token-ARRAY table (|docs| rows, not corpus
    token rows) twice and count the intersection in one vectorized
    array_intersect — no candidate×token explode. Round 7 adds the
    QUASI-CLIQUE GUARD inside the operator: identical token-sets
    collapse to one representative (group by set fingerprint, carry
    multiplicity) before candidate generation, so a k-document
    template clique contributes ONE set to the candidate/verify frames
    and expands back only at output time — clique width in the working
    set is capped at the distinct-set count, and the residual cost is
    the output size itself (inherent to the exactness contract; the
    linear alternative, MinHash+CC purge, ships beside this). The join
    itself is the shared operator (operators/dedup.ppjoin_pairs — one
    definition for this query, the fixed-corpus losslessness pin, and
    the hypothesis property test on random set corpora); its overshoot
    instrumentation is dedup_ppjoin_audit."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), "\\s+"))
        ).alias("token"),
    )
    pairs = ppjoin_pairs(tok)
    mx = pairs.withColumn("mxj", F.max("j_e4").over(W.partitionBy("da")))
    return mx.groupBy("da").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.max("j_e4").cast("bigint").alias("max_j_e4"),
        F.min(F.when(F.col("j_e4") == F.col("mxj"), F.col("db")))
        .cast("bigint")
        .alias("best_db"),
    )


@query(
    "dedup_ppjoin_audit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))) AS token
      FROM read_parquet('{{sf}}/documents.parquet')
    ), tsets AS (
      SELECT doc_id, list_sort(list(token)) AS toks
      FROM tok GROUP BY doc_id
    ), grp AS (
      SELECT toks, CAST(min(doc_id) AS BIGINT) AS rid,
             CAST(count(*) AS BIGINT) AS mult
      FROM tsets GROUP BY toks
    ), rtok AS (
      SELECT g.rid AS doc_id, t.token
      FROM grp g JOIN tok t ON t.doc_id = g.rid
    ), dfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM rtok GROUP BY token
    ), ranked AS (
      SELECT r.doc_id, r.token,
             CAST(row_number() OVER (
               PARTITION BY r.doc_id ORDER BY d.df, r.token
             ) AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY r.doc_id) AS BIGINT) AS sz
      FROM rtok r JOIN dfreq d ON r.token = d.token
    ), pfx AS (
      SELECT doc_id, token, r, sz FROM ranked
      WHERE r <= sz - (({_TN} * sz + {_TD - 1}) // {_TD}) + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             a.sz AS sa, b.sz AS sb
      FROM pfx a JOIN pfx b ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE {_TN} * a.sz <= {_TD} * b.sz AND {_TN} * b.sz <= {_TD} * a.sz
        AND 1 + least(a.sz - a.r, b.sz - b.r)
            >= ({_TN} * (a.sz + b.sz) + {_TN + _TD - 1}) // {_TN + _TD}
    ), rep_pairs AS (
      SELECT c.da, c.db
      FROM cand c
      JOIN rtok x ON x.doc_id = c.da
      JOIN rtok y ON y.doc_id = c.db AND y.token = x.token
      GROUP BY c.da, c.db, c.sa, c.sb
      HAVING {_TN + _TD} * count(*) >= {_TN} * (c.sa + c.sb)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM tsets) AS n_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM grp) AS n_sets,
      (SELECT CAST(count(*) AS BIGINT) FROM cand) AS cand_rep_pairs,
      (SELECT CAST(count(*) AS BIGINT) FROM rep_pairs) AS true_rep_pairs,
      CAST(
        (SELECT COALESCE(sum(ga.mult * gb.mult), 0)
         FROM rep_pairs p
         JOIN grp ga ON ga.rid = p.da
         JOIN grp gb ON gb.rid = p.db)
        + (SELECT COALESCE(sum(mult * (mult - 1)), 0) // 2 FROM grp)
      AS BIGINT) AS true_pairs
    """,
    tags=("dedup-exact-jaccard", "ppjoin", "audit", "scale-guard"),
)
def dedup_ppjoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overshoot audit of the PPJoin plan (operators/dedup.ppjoin_audit)
    — the 100 TB operator reporting its own candidate overshoot, as a
    driver-checked one-row frame: documents, distinct token-sets (the
    quasi-clique guard's working-set cap), candidate representative
    pairs surviving the prefix+length+positional prunes, verified
    J ≥ 0.95 representative pairs, and the fully expanded true-pair
    count (cross-group multiplicity products plus within-group
    C(mult, 2)). The oracle REPLICATES candidate generation itself —
    df-ascending prefix ordering, both prunes, the collapsed-set frame
    — in SQL (all-integer arithmetic, so the counts are exactly
    comparable), making the pruning logic, not just the final pair
    set, hash-checked. In production this runs beside any
    dedup_ppjoin_prefix invocation: cand_rep_pairs/true_rep_pairs
    drifting up is the early signal that df ordering has degraded and
    the join needs re-tuning before it falls over at scale."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), "\\s+"))
        ).alias("token"),
    )
    return ppjoin_audit(tok)


_RECALL_SAMPLE_SQL = (
    "SELECT doc_id, text FROM ("
    + _EXPANDED_DOCS_SQL
    + ") WHERE "
    + _h32_sql("'rc:' || CAST(doc_id AS VARCHAR)")
    + " % 4 = 0"
)

_LSH_RECALL_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_RECALL_SAMPLE_SQL, 0.0)
    + f""",
    rare AS (SELECT doc_id, shingle FROM shingles
             QUALIFY count(*) OVER (PARTITION BY shingle)
                     <= {MAX_SHINGLE_DF}),
    tcand AS (SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
              FROM rare sa
              JOIN rare sb ON sa.shingle = sb.shingle
                          AND sa.doc_id < sb.doc_id),
    tinter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
               FROM tcand c
               JOIN shingles sa ON sa.doc_id = c.doc_a
               JOIN shingles sb ON sb.doc_id = c.doc_b
                               AND sb.shingle = sa.shingle
               GROUP BY c.doc_a, c.doc_b),
    truth AS (SELECT i.doc_a, i.doc_b
              FROM tinter i
              JOIN sizes na ON na.doc_id = i.doc_a
              JOIN sizes nb ON nb.doc_id = i.doc_b
              WHERE 3 * i.ni >= na.n + nb.n),
    counts AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM expanded) AS n_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        (SELECT CAST(count(*) AS BIGINT) FROM truth t
         JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
          AS n_hit)
    SELECT n_docs,
           CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS total_pairs,
           n_truth, n_cand, n_hit,
           CAST(CASE WHEN n_truth > 0 THEN (10000 * n_hit) // n_truth
                     ELSE 10000 END AS BIGINT) AS recall_e4,
           CAST(10000 - (10000 * n_cand)
                        // (n_docs * (n_docs - 1) // 2) AS BIGINT)
             AS rr_e4
    FROM counts
    """
)


@query(
    "dedup_lsh_recall_eval",
    oracle=_LSH_RECALL_ORACLE,
    tags=("dedup-lsh", "evaluation", "blocking-quality"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality readout for the MinHash-LSH candidate stage —
    the two numbers every record-linkage / dedup blocking scheme is
    judged by (Christen, TKDE 2012): PAIR COMPLETENESS (recall: what
    fraction of true J>=0.5 pairs survive as band-collision candidates
    — banding theory says 1-(1-J^2)^4 at 8 hashes / 4 bands, ~68% at
    J=0.5, ~100% at J=0.95) and REDUCTION RATIO (what fraction of the
    n^2 pair space the blocking never has to score). Runs on a
    deterministic 1-in-4 hash sample of the expanded corpus so the
    ground truth (the df-capped exact inverted-index join, same
    contract as dedup_ngram_jaccard) stays sample^2-bounded at any SF;
    the J>=0.5 truth test is exact integer arithmetic (3*ni >= na+nb).
    Complements dedup_minhash_calibration, which scores estimator BIAS
    on pairs the blocking found — this measures what it MISSES.

    Scale: both legs are banded/inverted-index joins on the hash
    sample; the readout is four 1-row aggregates. Recall measured on a
    sample is an unbiased estimate of corpus recall (band collisions
    are per-pair independent of the sampling)."""
    sample = _expanded_docs(spark, sf_dir).filter(
        hash32(F.concat(F.lit("rc:"), F.col("doc_id").cast("string"))) % 4
        == 0
    )
    # NOTE (r11 measure-first): leg checkpoints were prototyped here
    # (truth / signatures / candidates each feed two 1-row readouts,
    # so the lineage LOOKS recomputed) and measured SLOWER interleaved
    # at sf0.1 (4.54 s → 4.92 s best-of-3): all four readouts compose
    # into ONE action whose duplicated shuffle subtrees AQE already
    # reuses at runtime, so eager checkpoints only serialize the job
    # into barriers. Left in the single-action form deliberately.
    truth = ngram_jaccard_pairs(
        sample, threshold=0.5
    ).select("doc_a", "doc_b")
    sh = shingle_docs(sample, distinct=False)
    cand = lsh_candidate_pairs(
        lsh_band_signatures(
            minhash_signatures(sh, backend="md5")
        )
    )
    n_rows = F.count(F.lit(1)).cast("bigint")
    return (
        sample.agg(n_rows.alias("n_docs"))
        .withColumns(
            {
                "n_truth": truth.agg(n_rows).scalar(),
                "n_cand": cand.agg(n_rows).scalar(),
                "n_hit": truth.join(cand, ["doc_a", "doc_b"]).agg(n_rows).scalar(),
            }
        )
        .select(
            "n_docs",
            F.expr("cast(n_docs * (n_docs - 1) div 2 as bigint)").alias(
                "total_pairs"
            ),
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr(
                "cast(case when n_truth > 0 then (10000 * n_hit)"
                " div n_truth else 10000 end as bigint)"
            ).alias("recall_e4"),
            F.expr(
                "cast(10000 - (10000 * n_cand)"
                " div nullif(n_docs * (n_docs - 1) div 2, 0) as bigint)"
            ).alias("rr_e4"),
        )
    )


# Fellegi–Sunter staging: ln(m/u) and ln((1-m)/(1-u)) are lns of EXACT
# integer cross-products (Laplace-smoothed counts), each quantized on
# the 2^20 grid, so per-pair weights are exact int64 sums of four
# field terms and the band histogram replays bit-for-bit.
_FS_GRID = 1 << 20
_FS_H_SQL = (
    "CAST(('0x' || substr(md5('fs:' || CAST(a.key AS VARCHAR) || ':'"
    " || CAST(b.key AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)
_FS_UNION_SQL = """
      SELECT c_custkey AS key, c_nationkey AS nat, c_name AS name,
             c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             (c_acctbal >= 0) AS sgn
      FROM read_parquet('{sf}/customer.parquet') WHERE c_custkey < 2000
      UNION ALL
      SELECT -c_custkey, c_nationkey, c_name,
             c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 40 = 0 THEN 1 ELSE 0 END,
             (c_acctbal >= 0)
      FROM read_parquet('{sf}/customer.parquet')
      WHERE c_custkey < 2000 AND c_custkey % 20 = 0
"""


def _fs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fellegi-Sunter record frame (ONE definition, twin of
    _FS_UNION_SQL): customers under key 2000 plus injected mutated
    copies (key -> -key, balance nudged one cent on half) — shared by
    dedup_fellegi_sunter and dedup_blocking_audit so the linkage
    corpus and its blocking audit can never drift apart."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_nationkey").alias("nat"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("c_acctbal") * 100)
            .cast("bigint")
            .alias("cents"),
            (F.col("c_acctbal") >= 0).alias("sgn"),
        )
    )
    copies = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") < 2000) & (F.col("c_custkey") % 20 == 0))
        .select(
            (-F.col("c_custkey")).alias("key"),
            F.col("c_nationkey").alias("nat"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("seg"),
            (
                F.round(F.col("c_acctbal") * 100).cast("bigint")
                + F.when(F.col("c_custkey") % 40 == 0, 1).otherwise(0)
            ).alias("cents"),
            (F.col("c_acctbal") >= 0).alias("sgn"),
        )
    )
    return cust.unionByName(copies)


def _fs_oracle(join_cond: str) -> str:
    """The Fellegi-Sunter band-histogram oracle, parameterized ONLY by
    the blocking join condition — shared by dedup_fellegi_sunter
    (nation block) and dedup_fs_blocked (the audit's nation×segment
    scheme) so the scoring SQL can never drift between them."""
    return f"""
    WITH u AS MATERIALIZED ({_FS_UNION_SQL}),
    pairs AS MATERIALIZED (
      SELECT a.key AS ka, b.key AS kb,
             CAST(a.name = b.name AS INTEGER) AS g1,
             CAST(a.seg = b.seg AS INTEGER) AS g2,
             CAST(a.cents = b.cents AS INTEGER) AS g3,
             CAST(a.sgn = b.sgn AS INTEGER) AS g4,
             CAST(a.key = -b.key AS INTEGER) AS is_true,
             {_FS_H_SQL} AS h
      FROM u a JOIN u b ON {join_cond} AND a.key < b.key
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS nm,
             CAST(sum(g1) AS BIGINT) AS m1, CAST(sum(g2) AS BIGINT) AS m2,
             CAST(sum(g3) AS BIGINT) AS m3, CAST(sum(g4) AS BIGINT) AS m4
      FROM pairs WHERE is_true = 1
    ),
    uu AS (
      SELECT CAST(count(*) AS BIGINT) AS nu,
             CAST(sum(g1) AS BIGINT) AS u1, CAST(sum(g2) AS BIGINT) AS u2,
             CAST(sum(g3) AS BIGINT) AS u3, CAST(sum(g4) AS BIGINT) AS u4
      FROM pairs WHERE is_true = 0 AND h < 20
    ),
    scored AS (
      SELECT ka, kb, is_true,
        (CASE WHEN g1 = 1
          THEN CAST(round(ln(CAST((m1+1)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((u1+1)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
          ELSE CAST(round(ln(CAST((nm+1-m1)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((nu+1-u1)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT) END)
      + (CASE WHEN g2 = 1
          THEN CAST(round(ln(CAST((m2+1)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((u2+1)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
          ELSE CAST(round(ln(CAST((nm+1-m2)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((nu+1-u2)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT) END)
      + (CASE WHEN g3 = 1
          THEN CAST(round(ln(CAST((m3+1)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((u3+1)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
          ELSE CAST(round(ln(CAST((nm+1-m3)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((nu+1-u3)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT) END)
      + (CASE WHEN g4 = 1
          THEN CAST(round(ln(CAST((m4+1)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((u4+1)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
          ELSE CAST(round(ln(CAST((nm+1-m4)*(nu+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT)
             - CAST(round(ln(CAST((nu+1-u4)*(nm+2) AS DOUBLE))*{_FS_GRID}) AS BIGINT) END)
        AS w_q
      FROM pairs, m, uu
    )
    SELECT CAST(CASE WHEN w_q >= 0 THEN w_q // {_FS_GRID}
                ELSE -((-w_q) // {_FS_GRID}) END AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS n_true_match
    FROM scored GROUP BY 1
    """


def _fs_pairs(u: DataFrame, block_cols: tuple[str, ...]) -> DataFrame:
    """The blocked FS comparison space: join records whose block keys
    all agree (key-ordered to halve the space), emit the four-field
    comparator vector, the injected-copy truth label, and the 'fs:'
    pair-sampling hash. Shared by both FS queries — the blocking key
    is the ONLY thing that differs between them."""
    a = u.alias("a")
    b = u.alias("b")
    cond = F.col("a.key") < F.col("b.key")
    for c in block_cols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    return a.join(b, cond).select(
        F.col("a.key").alias("ka"),
        F.col("b.key").alias("kb"),
        (F.col("a.name") == F.col("b.name")).cast("int").alias("g1"),
        (F.col("a.seg") == F.col("b.seg")).cast("int").alias("g2"),
        (F.col("a.cents") == F.col("b.cents")).cast("int").alias("g3"),
        (F.col("a.sgn") == F.col("b.sgn")).cast("int").alias("g4"),
        (F.col("a.key") == -F.col("b.key")).cast("int").alias("is_true"),
        (
            hash32(
                F.concat(
                    F.lit("fs:"),
                    F.col("a.key").cast("string"),
                    F.lit(":"),
                    F.col("b.key").cast("string"),
                )
            )
            % 100
        ).alias("h"),
    )


def _fs_band_histogram(pairs: DataFrame) -> DataFrame:
    """The Fellegi-Sunter decision layer over a blocked pair frame:
    m-probabilities from the labeled true pairs, u-probabilities from
    a 20% hash-sampled non-match slice, Laplace-smoothed to exact
    rationals so every ln is of an exact integer cross-product on the
    2^20 grid; returns the banded weight histogram. ONE definition —
    the blocking scheme feeding `pairs` is the only degree of
    freedom (twin of _fs_oracle's scoring SQL)."""
    # Materialize the blocked pair frame ONCE: it previously fed the
    # m-aggregate broadcast build, the u-aggregate broadcast build AND
    # the scored pass as three independent subtrees — the blocked
    # self-join (the query's only superlinear stage) executed three
    # times per run (ReuseExchange does not cross broadcast
    # boundaries, the hits_loop r12 finding).
    # The m- and u-estimates are ONE conditional aggregation, probed
    # off that same checkpoint job and read as driver literals: the
    # agree/disagree weights are then plan-time CONSTANTS built from
    # the very same Spark ln/round expressions over the very same
    # exact integer cross-products (Catalyst constant-folds them with
    # the engine's own Math.log, so the grid values are bit-identical
    # to the broadcast form).
    mt = F.when(F.col("is_true") == 1, 1).otherwise(0)
    ut = F.when((F.col("is_true") == 0) & (F.col("h") < 20), 1).otherwise(0)
    pairs, est = materialize(
        pairs,
        "_fs_band_histogram.pairs",
        F.sum(mt).cast("bigint").alias("nm"),
        F.sum(ut).cast("bigint").alias("nu"),
        *[
            F.sum(mt * F.col(f"g{i}")).cast("bigint").alias(f"m{i}")
            for i in range(1, 5)
        ],
        *[
            F.sum(ut * F.col(f"g{i}")).cast("bigint").alias(f"u{i}")
            for i in range(1, 5)
        ],
    )
    nm, nu = est["nm"] or 0, est["nu"] or 0
    lnq = lambda c: F.round(  # noqa: E731
        F.log(c.cast("double")) * F.lit(_FS_GRID)
    ).cast("bigint")
    w_q = None
    for i in range(1, 5):
        mi, ui = est[f"m{i}"] or 0, est[f"u{i}"] or 0
        agree = lnq(F.lit((mi + 1) * (nu + 2))) - lnq(
            F.lit((ui + 1) * (nm + 2))
        )
        disagree = lnq(F.lit((nm + 1 - mi) * (nu + 2))) - lnq(
            F.lit((nu + 1 - ui) * (nm + 2))
        )
        term = F.when(F.col(f"g{i}") == 1, agree).otherwise(disagree)
        w_q = term if w_q is None else w_q + term
    scored = pairs.withColumn("w_q", w_q)
    return scored.groupBy(
        F.expr(
            f"cast(case when w_q >= 0 then w_q div {_FS_GRID}"
            f" else -((-w_q) div {_FS_GRID}) end as bigint)"
        ).alias("band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("is_true").cast("bigint").alias("n_true_match"),
    )


@query(
    "dedup_fellegi_sunter",
    oracle=_fs_oracle("a.nat = b.nat"),
    tags=("dedup-fuzzy", "entity-resolution", "fellegi-sunter", "ln-grid"),
)
def dedup_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) — the
    decision-theoretic layer ABOVE j10's fuzzy candidate generation:
    each blocked pair gets the log-likelihood-ratio weight
    W = sum_i ln(m_i/u_i) [agree] or ln((1-m_i)/(1-u_i)) [disagree]
    over four field comparators (name, segment, balance-cents,
    balance-sign),
    and the banded weight histogram shows the match/non-match
    separation that sets the accept/review/reject thresholds. Truth
    pairs are INJECTED mutated copies (key -> -key, balance nudged one
    cent on half — the _chain_docs discipline), so m-probabilities are
    estimated on real labeled pairs, u-probabilities on a 20%
    hash-sampled slice of non-match pairs, both Laplace-smoothed to
    exact rationals — every ln is of an exact integer cross-product on
    the 2^20 grid (headroom note at _FS_GRID). Plan: ONE nation-blocked
    self-join builds the comparison space (blocking is what keeps FS
    linear-ish at 100 TB: pairs per block, never all-pairs); the m/u
    estimates are two 1-row aggregations broadcast back over the pairs;
    the band histogram is a map-side-combinable groupBy on a handful of
    integer bands. Caveat (documented, like j10's): nation-only
    blocking is recall-complete here because injected copies keep
    nationkey; production stacks multiple blocking passes. The record
    frame is the SHARED _fs_union — one definition with
    dedup_blocking_audit, which grades this query's blocking scheme —
    and pair generation + scoring are the SHARED _fs_pairs /
    _fs_band_histogram, one definition with dedup_fs_blocked, which
    runs the identical decision layer inside the audit's tighter
    nation×segment blocks."""
    pairs = _fs_pairs(_fs_union(spark, sf_dir), ("nat",))
    return _fs_band_histogram(pairs)


@query(
    "dedup_fs_blocked",
    oracle=_fs_oracle("a.nat = b.nat AND a.seg = b.seg"),
    tags=("dedup-fuzzy", "entity-resolution", "fellegi-sunter",
          "blocking", "ln-grid"),
)
def dedup_fs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage inside the blocking scheme the audit
    picked (r9-verdict item 7): dedup_blocking_audit grades four
    schemes by reduction ratio and pair completeness, and
    nation×segment is its winner — the largest rr among the schemes
    with pc = 1.0 (pinned by test_round10_ops, so the code's choice
    can never silently diverge from the audit's evidence). Identical
    decision layer to dedup_fellegi_sunter — SHARED _fs_union /
    _fs_pairs / _fs_band_histogram, the block-key tuple is the only
    difference — over a comparison space ~5x smaller (the audit's
    rr gap), which is the whole 100-TB story: the pair frame is the
    ONLY superlinear stage of the linkage, so candidate count, not
    scoring, is what the blocking scheme buys. The m/u estimates are
    re-fit inside the tighter space (u-probabilities are
    conditional on the candidate space by definition — Fellegi &
    Sunter, JASA 1969 §3), so bands shift slightly vs the nation
    block; the separation readout is what matters. Plan: one
    (nat, seg)-blocked self-join + two broadcast 1-row m/u aggs +
    a map-side-combinable band groupBy."""
    pairs = _fs_pairs(_fs_union(spark, sf_dir), ("nat", "seg"))
    return _fs_band_histogram(pairs)


@query(
    "dedup_blocking_audit",
    oracle=f"""
    WITH u AS MATERIALIZED ({_FS_UNION_SQL}),
    labeled AS (
      SELECT 'nation' AS strategy, CAST(nat AS VARCHAR) AS bkey FROM u
      UNION ALL
      SELECT 'segment', seg FROM u
      UNION ALL
      SELECT 'nation_segment', CAST(nat AS VARCHAR) || '|' || seg FROM u
      UNION ALL
      SELECT 'cents_kilo',
             CAST(CASE WHEN cents >= 0 THEN cents // 1000
                  ELSE -((-cents) // 1000) END AS VARCHAR)
      FROM u
    ), blocks AS (
      SELECT strategy, bkey, CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY 1, 2
    ), stats AS (
      SELECT strategy,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_candidates
      FROM blocks GROUP BY strategy
    ), cov AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN o.nat = c.nat THEN 1 ELSE 0 END)
                  AS BIGINT) AS cov_nation,
             CAST(sum(CASE WHEN o.seg = c.seg THEN 1 ELSE 0 END)
                  AS BIGINT) AS cov_segment,
             CAST(sum(CASE WHEN o.nat = c.nat AND o.seg = c.seg
                      THEN 1 ELSE 0 END) AS BIGINT) AS cov_natseg,
             CAST(sum(CASE WHEN (CASE WHEN o.cents >= 0
                                      THEN o.cents // 1000
                                      ELSE -((-o.cents) // 1000) END)
                         = (CASE WHEN c.cents >= 0
                                 THEN c.cents // 1000
                                 ELSE -((-c.cents) // 1000) END)
                      THEN 1 ELSE 0 END) AS BIGINT) AS cov_cents
      FROM u c JOIN u o ON o.key = -c.key WHERE c.key < 0
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rec FROM u
    )
    SELECT s.strategy, s.n_blocks, s.n_candidates, cov.n_true,
           CAST(CASE s.strategy WHEN 'nation' THEN cov.cov_nation
                WHEN 'segment' THEN cov.cov_segment
                WHEN 'nation_segment' THEN cov.cov_natseg
                ELSE cov.cov_cents END AS BIGINT) AS n_true_covered,
           CAST(((tot.n_rec * (tot.n_rec - 1) // 2 - s.n_candidates)
                 * 1000000) // (tot.n_rec * (tot.n_rec - 1) // 2)
                AS BIGINT) AS rr_e6,
           CAST((CASE s.strategy WHEN 'nation' THEN cov.cov_nation
                 WHEN 'segment' THEN cov.cov_segment
                 WHEN 'nation_segment' THEN cov.cov_natseg
                 ELSE cov.cov_cents END * 1000000) // cov.n_true
                AS BIGINT) AS pc_e6
    FROM stats s, cov, tot
    """,
    tags=("dedup-fuzzy", "entity-resolution", "blocking", "audit"),
)
def dedup_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key candidate-generation audit for the Fellegi-Sunter
    linkage path (r8-verdict item 7) — the two numbers that justify a
    blocking scheme at 100 TB (Christen, TKDE 2012 survey): REDUCTION
    RATIO rr = 1 - |candidates|/|all pairs| (how much of the quadratic
    comparison space the blocking removes) and PAIR COMPLETENESS
    pc = |true pairs blocked together|/|true pairs| (the recall ceiling
    blocking imposes on any downstream matcher). Four schemes over
    dedup_fellegi_sunter's exact record frame (originals + injected
    mutated copies): the production nation block, a segment block, the
    stacked nation+segment conjunction, and a numeric band block on
    balance kilocents. The audit NEVER materializes candidate pairs:
    per-block counts give |candidates| = sum n(n-1)/2 — one stacked
    groupBy — and coverage is a LINEAR key-join of each injected copy
    to its original comparing block keys (a true pair is blocked
    together iff its block keys agree). rr/pc ship as exact e6
    integers (all-nonnegative truncating divisions). Plan: one scan
    stacked 4x [generate], groupBy(strategy, bkey) then
    groupBy(strategy) [both map-side combinable], the coverage join is
    key-equi on ~|copies| rows, and scalar subqueries assemble the
    readout. Same evidence shape as dedup_lsh_recall_eval gives the
    MinHash path."""
    cents_block = (
        "cast(case when cents >= 0 then cents div 1000"
        " else -((-cents) div 1000) end as string)"
    )
    u = _fs_union(spark, sf_dir)
    labeled = u.select(
        F.expr(
            "stack(4,"
            " 'nation', cast(nat as string),"
            " 'segment', seg,"
            " 'nation_segment', cast(nat as string) || '|' || seg,"
            f" 'cents_kilo', {cents_block}"
            ") as (strategy, bkey)"
        )
    )
    blocks = labeled.groupBy("strategy", "bkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stats = blocks.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("bigint")
        .alias("n_candidates"),
    )
    c = u.filter(F.col("key") < 0).alias("c")
    o = u.alias("o")
    cov = (
        c.join(o, F.col("o.key") == -F.col("c.key"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum(
                (F.col("o.nat") == F.col("c.nat")).cast("int")
            ).cast("bigint").alias("cov_nation"),
            F.sum(
                (F.col("o.seg") == F.col("c.seg")).cast("int")
            ).cast("bigint").alias("cov_segment"),
            F.sum(
                (
                    (F.col("o.nat") == F.col("c.nat"))
                    & (F.col("o.seg") == F.col("c.seg"))
                ).cast("int")
            ).cast("bigint").alias("cov_natseg"),
            F.sum(
                (
                    F.expr(
                        "case when o.cents >= 0 then o.cents div 1000"
                        " else -((-o.cents) div 1000) end"
                    )
                    == F.expr(
                        "case when c.cents >= 0 then c.cents div 1000"
                        " else -((-c.cents) div 1000) end"
                    )
                ).cast("int")
            ).cast("bigint").alias("cov_cents"),
        )
        .select(F.struct("*"))
        .scalar()
    )
    covered = F.expr(
        "case strategy when 'nation' then cov_nation"
        " when 'segment' then cov_segment"
        " when 'nation_segment' then cov_natseg"
        " else cov_cents end"
    )
    return (
        stats.withColumn("cov", cov)
        .select("*", "cov.*")
        .withColumn("n_rec", u.agg(F.count(F.lit(1)).cast("bigint")).scalar())
        .select(
            "strategy",
            "n_blocks",
            "n_candidates",
            "n_true",
            covered.cast("bigint").alias("n_true_covered"),
            F.expr(
                "cast(((n_rec * (n_rec - 1) div 2 - n_candidates)"
                " * 1000000) div (n_rec * (n_rec - 1) div 2) as bigint)"
            ).alias("rr_e6"),
            (covered * 1000000)
            .cast("bigint")
            .alias("pc_num"),
        )
        .select(
            "strategy",
            "n_blocks",
            "n_candidates",
            "n_true",
            "n_true_covered",
            "rr_e6",
            F.expr("cast(pc_num div n_true as bigint)").alias("pc_e6"),
        )
    )
