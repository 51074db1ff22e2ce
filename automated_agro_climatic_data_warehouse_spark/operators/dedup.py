"""Large-scale text deduplication operators (north-star extension beyond
the reference surface — BASELINE.json: dedup for training-data pipelines).

Four legs, all pure DataFrame ops designed for the 100 TB shape:

- exact:        hash-groupBy on md5(text) (see plans/dedup_queries.py d2)
- MinHash+LSH:  shingle → k min-hashes → banded signatures → bucket
                self-join → exact-Jaccard verify. Candidate generation is
                the banded join (near-linear); the quadratic verify runs
                only on bucket collisions.
- SimHash:      per-token hash bit-votes → compact fingerprint; hamming
                pairs via fingerprint self-join.
- n-gram Jaccard: pairs sharing ≥1 shingle (inverted-index join) →
                exact Jaccard. No LSH; exact but heavier — the verify
                stage of MinHash standalone.

Determinism/parity vs cost — the hash backend is a flag:

- "md5" (default): first 8 hex chars of md5 as bigint — reproducible in
  DuckDB (`CAST('0x'||substr(md5(x),1,8) AS BIGINT)`), the PARITY path
  the oracle-checked queries run. md5 is also the dominant CPU cost of
  the minhash pipeline.
- "xxhash64": Spark's native xxhash64 — JVM-side, whole-stage-codegen,
  ~an order of magnitude cheaper per shingle; the PRODUCTION path for
  non-oracle runs (bench, real deployments). Not mirrorable in DuckDB,
  so parity queries must stay on md5. Both backends feed the same exact-
  Jaccard verify, so final pairs differ only if a true near-dup pair
  collides in no band under one backend (probability set by band/row
  geometry, not by the hash function choice).

All Jaccards are ratios of ints regardless of backend.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import materialize, release

# MinHash geometry: 8 hash functions in 4 bands of 2 rows.
NUM_HASHES = 8
ROWS_PER_BAND = 2

# PPJoin's Jaccard threshold τ = 19/20, shared with the oracle twins.
PPJOIN_TAU_NUM, PPJOIN_TAU_DEN = 19, 20

# Document-frequency stop-gram cap for the exact inverted-index join: a
# shingle appearing in k docs emits ~k²/2 candidate pairs from the self-join,
# so one boilerplate 3-gram ("terms of service") in 10⁶ docs is a
# reducer-killing 5·10¹¹-pair key at 100 TB. Dropping shingles with df >
# MAX_SHINGLE_DF from CANDIDATE GENERATION ONLY (the Jaccard verify still
# counts every shingle, so reported values stay exact) is the standard
# stop-gram move: a true near-dup pair at threshold 0.5 shares half its
# shingles, and the chance that ALL shared shingles are corpus-boilerplate is
# negligible at any sane cap. Bounds candidate blowup at MAX_SHINGLE_DF²/2
# pairs per shingle. The oracle twins read the same cap for exact parity.
MAX_SHINGLE_DF = 100


def dedup_hash_backend() -> str:
    """The hash backend the SPARK_GRAFT_DEDUP_HASH env var names: "md5"
    (the default) or "xxhash64". Any other value raises, so a typo
    cannot silently run the md5 path."""
    backend = os.environ.get("SPARK_GRAFT_DEDUP_HASH", "md5")
    if backend not in ("md5", "xxhash64"):
        raise ValueError(f"SPARK_GRAFT_DEDUP_HASH must be md5 or xxhash64: {backend!r}")
    return backend


def hash32(c: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as bigint.
    DuckDB twin: CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def hash64(c: Column) -> Column:
    """Portable SIGNED 64-bit hash: first 16 hex chars of md5, rebuilt
    from two 32-bit halves in signed arithmetic (a direct 16-hex conv
    overflows bigint for values ≥ 2^63). DuckDB twin:
    (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
    * 4294967296 + lo with hi/lo the two 8-hex md5 chunks — verified
    identical on both engines, as are >>/&/xor/bit_count on the
    resulting negatives."""
    hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("bigint")
    signed_hi = F.when(
        hi >= F.lit(2147483648), hi - F.lit(4294967296)
    ).otherwise(hi)
    return signed_hi * F.lit(4294967296) + lo


def shingle_docs(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Word 3-gram shingles per document. One narrow explode — linear in
    corpus size, no shuffle until the consumer aggregates.

    distinct=False skips the dedup shuffle — correct for consumers that are
    duplicate-insensitive (min-hash aggregation); set semantics (Jaccard
    counting) need distinct=True."""
    words = F.split(F.lower(F.col("text")), "\\s+")
    nw = F.size(words)
    idx = F.when(nw >= 3, F.sequence(F.lit(1), nw - 2)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__w"), F.col("i") + j) for j in range(3)]
    )
    out = (
        docs.select("doc_id", F.explode(idx).alias("i"), words.alias("__w"))
        .select("doc_id", gram.alias("shingle"))
    )
    return out.distinct() if distinct else out


def hash32_chunk(c: Column, seed: int, chunk: int) -> Column:
    """One of four independent 32-bit values carved from a single seeded
    md5 (32 hex chars = 4 × 8-hex chunks). DuckDB twin:
    CAST('0x' || substr(md5('<seed>:' || x), 1+8*chunk, 8) AS BIGINT)."""
    digest = F.md5(F.concat(F.lit(f"{seed}:"), c))
    return F.conv(F.substring(digest, 1 + 8 * chunk, 8), 16, 10).cast("bigint")


def _minhash_fn(c: Column, i: int, backend: str) -> Column:
    """The i-th minhash function under the chosen backend (module
    docstring: md5 = parity, xxhash64 = production)."""
    if backend == "md5":
        # four hash functions per digest: k hashes cost ⌈k/4⌉ md5 evals
        return hash32_chunk(c, seed=i // 4, chunk=i % 4)
    if backend == "xxhash64":
        return F.xxhash64(F.lit(i), c)
    raise ValueError(f"unknown dedup hash backend: {backend!r}")


def minhash_signatures(shingles: DataFrame, backend: str = "md5") -> DataFrame:
    """k min-hashes per doc in ONE groupBy, single shuffle on doc id.
    Under the md5 backend each seeded digest yields FOUR hash functions
    (hex chunks), so k hashes cost ⌈k/4⌉ md5 evaluations per shingle —
    4× less hashing than one-md5-per-hash, and codegen CSEs the shared
    digest. Under xxhash64 each function is one native codegen'd call.

    (A fully map-side array_min/transform variant was measured 2.8×
    slower at sf0.1 under md5 — the digests dominate, and higher-order
    lambdas evaluate outside whole-stage codegen while
    explode+partial-agg stays inside. Under xxhash64 it measured ~25%
    faster and would drop this shuffle — but DO NOT build it with k
    same-shaped `F.transform` lambdas in one projection: Spark 4.1.2
    silently MIS-BINDS multiple structurally-identical transform lambdas
    that differ only in a captured literal, returning values that match
    no seed at all (verified: `select transform(arr, s -> xxhash64(i, s))
    for i in 0..2` yields identical columns, and with per-lambda concat
    salts yields garbage; a SINGLE transform per projection matches the
    exploded computation exactly). `F.filter` lambdas with captured
    literals are unaffected — simhash_fingerprints' 16 bit-vote filters
    are oracle-pinned correct. Until the engine fixes lambda binding,
    the explode+groupBy shape is the one whose results we can trust.)"""
    return shingles.groupBy("doc_id").agg(
        *[
            F.min(_minhash_fn(F.col("shingle"), i, backend)).alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ]
    )


def lsh_band_signatures(minhashes: DataFrame, backend: str = "md5") -> DataFrame:
    """Banded LSH signatures: a hash over each band's minhash tuple
    (md5 hex under the parity backend, xxhash64 bigint under production —
    the sig is only ever used as a join key, so its type is free).
    Docs agreeing on ANY band become candidates."""

    def band_sig(cols):
        joined = F.concat_ws(",", *cols)
        return F.md5(joined) if backend == "md5" else F.xxhash64(joined)

    # ONE pass via explode of per-band structs — a union of per-band selects
    # would recompute the signature DAG once per branch (and the LSH
    # self-join doubles that again)
    sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                band_sig(
                    [
                        F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ]
                ).alias("sig"),
            )
            for b in range(NUM_HASHES // ROWS_PER_BAND)
        ]
    )
    return minhashes.select("doc_id", F.explode(sigs).alias("__bs")).select(
        "doc_id", F.col("__bs.band_id").alias("band_id"), F.col("__bs.sig").alias("sig")
    )


def lsh_candidate_pairs(band_sigs: DataFrame) -> DataFrame:
    """Self-join on (band_id, sig): the candidate pairs. The join key is a
    128-bit signature → uniform, no skew; output is near-linear for
    non-pathological corpora.

    NOTE (r11 measure-first): a parallelism pin on the pair frame (the
    _ppjoin_candidates starvation fix) was tested here in BOTH
    placements and measured SLOWER order-rotated interleaved at sf0.1
    — repartition before the distinct loses the aggregate's map-side
    partial dedup (band collisions shuffled twice), after it adds an
    exchange+barrier that costs more than the ~1 s single-task verify
    stage it relieves (minhash_lsh trimmed-mean 3.68→4.30 s,
    lsh_recall_eval 5.12→5.50 s). The candidate distinct stays
    unpinned deliberately; the verify starvation is bounded by the
    candidate count, which LSH banding keeps near-linear."""
    a = band_sigs.select(
        F.col("doc_id").alias("doc_a"), "band_id", "sig"
    )
    b = band_sigs.select(
        F.col("doc_id").alias("doc_b"), "band_id", "sig"
    )
    return (
        a.join(b, ["band_id", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(candidates: DataFrame, shingles: DataFrame,
                   threshold: float = 0.6, pruned: bool = False) -> DataFrame:
    """Exact Jaccard over candidate pairs via per-doc shingle SETS:
    one groupBy collapses the (distinct) shingle rows to an array per
    doc, the candidate frame joins that compact table twice on the id,
    and |A∩B| is one vectorized ``array_intersect`` per pair —
    |A∪B| = |A|+|B|-|A∩B|, integer arithmetic, engine-reproducible.

    Same shape as the PPJoin verify (ppjoin_pairs): no candidate×token
    explode, no pair-level re-aggregation. vs the previous
    inverted-index form (cand⋈shingles⋈shingles + groupBy + two size
    joins) this drops three exchanges and shuffles each shingle once
    instead of once per containing pair — measured 2.3s → 1.7s on the
    minhash_lsh chain verify at sf0.1 (same bytes at any scale: the
    array rows are the same tokens, packed). ``ni > 0`` reproduces the
    old inner shingle-join semantics exactly: pairs with NO common
    shingle never appear, even at threshold 0.0 (dedup_minhash_
    calibration relies on this).

    ``pruned=True`` declares the shingle frame ALREADY restricted to
    candidate docs (the minhash_lsh_dedup / incremental callers shingle
    only semi-joined docs): the candidate-id distinct + semi-join here
    would re-apply a filter that cannot drop a row, so it is skipped —
    one aggregation exchange and one join fewer per chain consumer.
    Callers passing the full corpus index (ngram_jaccard_pairs) keep
    the default and the prune stays load-bearing."""
    sh = shingles
    if not pruned:
        # no distinct: the left-semi join dedupes its build side, so
        # the distinct was a redundant exchange (its own input shuffle
        # moves the same id rows the join's build now shuffles once)
        cand_ids = candidates.select(
            F.col("doc_a").alias("doc_id")
        ).unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        # prune the shingle frame to docs that actually appear in a pair
        # BEFORE the per-doc set aggregation — callers that pass the full
        # corpus index (ngram_jaccard_pairs) would otherwise pay the
        # collect_set over every non-candidate doc. No broadcast hint:
        # the candidate-id frame is collision-bounded but not
        # size-bounded at corpus scale, so the planner/AQE decides from
        # its measured size (r11 verdict item 5).
        sh = shingles.join(cand_ids, "doc_id", "left_semi")
    # The explicit-N repartition on the id is the groupBy's own
    # exchange (reused, not an extra shuffle), pinned so AQE's
    # byte-based coalescing doesn't run the row-expensive collect_set
    # + array build on 1 task (measured 0.42 s single-task on the
    # minhash chain at sf0.1; pinned 32-task chain median 2.57→2.47 s
    # interleaved best-of-6 — the _ppjoin_candidates starvation fix).
    arrs = (
        sh.repartition(
            shingles.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("__toks"))
    )
    aa = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("__toks").alias("__ta")
    )
    ab = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("__toks").alias("__tb")
    )
    return (
        candidates.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__ta", "__tb"))
            .cast("bigint")
            .alias("__ni"),
            F.size("__ta").cast("bigint").alias("__na"),
            F.size("__tb").cast("bigint").alias("__nb"),
        )
        .filter(F.col("__ni") > 0)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("__ni").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__ni"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(docs: DataFrame, backend: str = "md5") -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: (doc_a, doc_b, jaccard) pairs
    at Jaccard >= 0.6.
    `backend` picks the signature hash (module docstring): "md5" for
    oracle parity, "xxhash64" for production throughput; the exact-
    Jaccard verify is backend-independent.

    Two scale optimizations over the naive composition:
    - signatures aggregate NON-distinct shingles (min() is duplicate-
      insensitive) — drops one full-corpus shuffle. (A fully map-side
      array_min/transform variant exists but measured 2.8× slower: the
      md5 work dominates, and higher-order lambdas evaluate outside
      whole-stage codegen while explode+partial-agg stays inside it.)
    - the exact-Jaccard verify sees only shingles of docs that appear in
      some candidate pair (semi-join pre-filter) — at production scale
      candidates ≪ corpus, so the heavy set-intersection join touches a
      tiny slice instead of the whole shingle index."""
    mh = minhash_signatures(shingle_docs(docs, distinct=False), backend=backend)
    # the signature table is one row per doc — tiny next to the corpus;
    # materialize it so the LSH self-join's two sides don't each recompute
    # the full shingle+hash DAG (in production this IS the persisted index).
    # MUST be eager: a lazy checkpoint only caches after the first job over
    # it completes, so the self-join's two stages would each re-run the
    # whole shingle+md5 lineage (measured 3.3× slower at sf0.1).
    mh = materialize(mh, "minhash_lsh_dedup.mh")
    cand = lsh_candidate_pairs(lsh_band_signatures(mh, backend=backend))
    cand = materialize(cand, "minhash_lsh_dedup.cand")
    release(mh)
    # no distinct: the left-semi join below dedupes its build side —
    # the distinct was one redundant exchange over the candidate ids
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    # shingle ONLY candidate docs for the verify — the heavy set-
    # intersection join touches a tiny slice instead of the whole
    # corpus. No broadcast hint: cand_ids is collision-bounded but not
    # size-bounded at 100 TB; AQE broadcasts it when it measures small
    # (r11 verdict item 5).
    docs_cand = docs.join(cand_ids, "doc_id", "left_semi")
    # distinct=False: jaccard_verify's collect_set dedupes shingles
    # per doc anyway — the explicit distinct would be one more
    # full shuffle of the candidate shingles for nothing.
    # pruned=True: docs are already candidate-only, so the verify's
    # own semi-join prune would be a no-op filter — skipped.
    sh_cand = shingle_docs(docs_cand, distinct=False)
    return jaccard_verify(cand, sh_cand, 0.6, pruned=True)


def minhash_lsh_incremental(new_docs: DataFrame, indexed_docs: DataFrame,
                            backend: str = "md5") -> DataFrame:
    """INCREMENTAL near-dup detection: today's batch against the already-
    indexed corpus — (new_id, indexed_id, jaccard) pairs at Jaccard
    >= 0.6 only, never
    indexed×indexed. This is how a production pipeline actually runs
    dedup: the full self-join happens once at bootstrap; every
    subsequent day LSH-joins only the delta's band signatures against
    the persisted signature index, so daily cost scales with the BATCH,
    not the corpus. Ids must be disjoint across the two inputs.

    Plan: signatures computed per side (in production the indexed side
    is a parquet read of the persisted index — the localCheckpoint here
    stands in for it), ONE bipartite equi-join on (band_id, sig), and
    the exact-Jaccard verify over shingles of candidate docs only."""
    mh_new = materialize(
        minhash_signatures(
            shingle_docs(new_docs, distinct=False), backend=backend
        ),
        "minhash_lsh_incremental.mh_new",
    )
    mh_idx = materialize(
        minhash_signatures(
            shingle_docs(indexed_docs, distinct=False), backend=backend
        ),
        "minhash_lsh_incremental.mh_idx",
    )
    bands_new = lsh_band_signatures(mh_new, backend=backend).select(
        F.col("doc_id").alias("doc_a"), "band_id", "sig"
    )
    bands_idx = lsh_band_signatures(mh_idx, backend=backend).select(
        F.col("doc_id").alias("doc_b"), "band_id", "sig"
    )
    cand = materialize(
        bands_new.join(bands_idx, ["band_id", "sig"])
        .select("doc_a", "doc_b")
        .distinct(),
        "minhash_lsh_incremental.cand",
    )
    release(mh_new, mh_idx)
    # no distinct: left-semi joins dedupe their build sides
    a_ids = cand.select(F.col("doc_a").alias("doc_id"))
    b_ids = cand.select(F.col("doc_b").alias("doc_id"))
    # distinct=False: jaccard_verify's collect_set dedupes per doc.
    # No broadcast hints (candidate-id frames are not size-bounded at
    # scale; AQE broadcasts when measured small) and pruned=True (both
    # sides already candidate-only, the verify's own prune is a no-op).
    sh = shingle_docs(
        new_docs.join(a_ids, "doc_id", "left_semi"),
        distinct=False,
    ).unionByName(
        shingle_docs(
            indexed_docs.join(b_ids, "doc_id", "left_semi"),
            distinct=False,
        )
    )
    return jaccard_verify(cand, sh, 0.6, pruned=True)


def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash: tokens vote ±1 per bit of their hash; positive-sum bits
    set the fingerprint bit (a bit is set when set-votes outnumber
    clear-votes: 2·|set| > |tokens|).

    bits ≤ 32 (oracle-twin sizes): token hashes stay an array column and
    each bit's vote is a filter-count over it — fully map-side, zero
    shuffle. bits > 32 (the production 64-bit fingerprint): 64
    interpreted filter-lambda passes per doc would dominate, so votes
    aggregate as sum(±1) conditional aggregates in ONE codegen'd
    explode + groupBy pass — a single shuffle on the doc id with map-side
    partial aggregation, still linear in corpus size.

    The per-bit vote/term expressions are built as ONE SQL string per
    projection (F.expr) rather than per-bit Column calls: each Column
    operation is a driver py4j roundtrip, and the 64-bit loop's
    ~700 roundtrips measured 1.1 s of pure Python-side construction
    per run at any data size (the DRIVER end of the guide-§4 Python
    boundary). The parsed expressions are identical — same plan, same
    bytes — the string just crosses py4j once."""

    def _bit_term_sql(b: int) -> str:
        # bit 63's -2^63 won't parse as a bare bigint literal (the
        # parser reads unary minus + an overflowing positive), so it
        # goes through an exact decimal→bigint cast
        return (
            str(1 << b)
            if b < 63
            else "CAST(-9223372036854775808 AS BIGINT)"
        )

    if bits <= 32:
        staged = docs.select(
            "doc_id",
            F.transform(
                F.split(F.lower(F.col("text")), "\\s+"), lambda w: hash32(w)
            ).alias("__h"),
        )
        fp_sql = " + ".join(
            f"(CASE WHEN size(filter(__h, h -> (shiftright(h, {b}) & 1) = 1))"
            f" * 2 > size(__h) THEN {_bit_term_sql(b)} ELSE 0 END)"
            for b in range(bits)
        )
        return staged.select(
            "doc_id", F.expr(f"CAST({fp_sql} AS BIGINT)").alias("simhash")
        )

    hashed = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("__w"),
    ).select("doc_id", hash64(F.col("__w")).alias("__h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(__h, {b}) & 1) = 1"
                f" THEN 1 ELSE -1 END)"
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {_bit_term_sql(b)} ELSE 0 END)"
        for b in range(bits)
    )
    return votes.select(
        "doc_id", F.expr(f"CAST({fp_sql} AS BIGINT)").alias("simhash")
    )


def containment_verify(candidates: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact CONTAINMENT C(A,B) = |A∩B| / min(|A|,|B|) over candidate
    pairs — the asymmetric near-dup measure that catches
    quotation/subset duplicates (a doc embedded inside a larger one)
    which Jaccard misses when sizes differ (J = ni/(na+nb-ni) → 0 as
    the host grows, C stays 1). Same inverted-index intersection plan as
    jaccard_verify; integer ratio, engine-reproducible."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "ni",
            (
                F.col("ni").cast("double")
                / F.least(F.col("na"), F.col("nb"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Near-containment pairs (containment >= 0.8) via the df-capped
    inverted-index candidate join (identical bounded-blowup guard to
    ngram_jaccard_pairs) + exact containment verify over FULL shingle
    sets."""
    sh = materialize(shingle_docs(docs), "containment_pairs.sh")
    rare = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("shingle"),
        "shingle",
    ).select("doc_id", "shingle")
    pairs = (
        rare.alias("sa")
        .join(
            rare.alias("sb"),
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return containment_verify(pairs, sh)


def simhash_hamming_pairs(fp: DataFrame, bits: int = 64, band_bits: int = 16,
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ max_hamming via BAND
    BLOCKING (Manku et al.'s web-dedup configuration at the 64/16
    default): k = bits/band_bits bands; ≤ max_hamming differing bits can
    touch at most max_hamming bands, so with max_hamming ≤ k-1 every
    true pair collides on at least one intact band (pigeonhole) — the
    band equi-join is candidate-complete and the exact bit_count filter
    removes false collisions.

    SCALE GEOMETRY IS THE WHOLE GAME HERE: the join-key space is
    k × 2^band_bits. At 64/16 that is 4 × 65,536 keys whose cardinality
    grows with the corpus until saturation — candidates stay near-linear.
    A 16-bit fingerprint with 4-bit bands (the oracle-replayable small
    twin in plans/dedup_queries.py) has only 64 distinct keys, making
    candidates O(n²/16) BY CONSTRUCTION — every band value is a reducer-
    killing hot key at 100 TB. Keep small-bit variants for engine parity
    only; production runs this 64/16 shape."""
    k = bits // band_bits
    if max_hamming > k - 1:
        raise ValueError(
            f"band blocking with {k} bands is only candidate-complete "
            f"for hamming <= {k - 1}, got max_hamming={max_hamming}"
        )
    mask = (1 << band_bits) - 1
    fp = materialize(fp, "simhash_hamming_pairs.fp")  # feeds both sides of the join
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", band_bits * i).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(k)
                ]
            )
        ).alias("band", "bval"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the shingle inverted
    index, with the document-frequency stop-gram cap on CANDIDATE
    GENERATION: shingles appearing in more than `max_shingle_df` docs
    are excluded from the self-join (a df=k shingle alone emits ~k²/2
    pairs — the reducer-killing hot key at corpus scale), while the
    Jaccard verify still scores FULL shingle sets, so emitted values are
    exact. tests/test_dedup_backends.py pins the bounded-blowup property
    on a worst-case corpus where every document shares one shingle."""
    sh = materialize(shingle_docs(docs), "ngram_jaccard_pairs.sh")
    rare = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("shingle"),
        "shingle",
    ).select("doc_id", "shingle")
    pairs = materialize(
        rare.alias("sa")
        .join(
            rare.alias("sb"),
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        # same two fixes as the PPJoin/minhash candidate frames: pin
        # the distinct at cluster parallelism (byte-small pair rows,
        # row-expensive verify downstream — AQE would coalesce to 1-2
        # tasks) and checkpoint, because jaccard_verify consumes the
        # candidate frame three times (two id projections + the join)
        # and the inverted-index self-join must not re-run per consumer
        .repartition(
            sh.sparkSession.sparkContext.defaultParallelism,
            "doc_a",
            "doc_b",
        )
        .distinct(),
        "ngram_jaccard_pairs.pairs",
    )
    return jaccard_verify(pairs, sh, threshold)


def ppjoin_set_groups(tok: DataFrame) -> DataFrame:
    """Collapse identical token-SETS into groups: one row per input id
    with its group key (`fp`, md5 of the JSON-encoded sorted token
    array — injective for string arrays, so no false merges), the
    group representative (`rid`, min id) and the group size (`mult`).
    This is the quasi-clique guard's first half: a template corpus
    where k documents share one exact token set would otherwise push
    k·(prefix length) identical rows through the candidate join and
    k²/2 pairs through verification; after collapsing, the pair
    machinery sees ONE representative per distinct set and clique
    width is capped at the distinct-set count."""
    tsets = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("toks")
    )
    g = tsets.withColumn("fp", F.md5(F.to_json("toks")))
    reps = g.groupBy("fp").agg(
        F.min("doc_id").alias("rid"),
        F.count(F.lit(1)).cast("bigint").alias("mult"),
    )
    return g.select("fp", F.col("doc_id").alias("mid")).join(reps, "fp")


def _ppjoin_candidates(tok: DataFrame, tau_num: int, tau_den: int) -> DataFrame:
    """Prefix-filter candidate pairs (da < db, with set sizes) over one
    (id, token)-per-distinct-element frame, with PPJoin's lossless
    length + positional prunes applied inside the join. Shared by the
    pair join and the audit so 'candidates' means the same frame in
    both."""
    tn, td = tau_num, tau_den
    nd = tn + td
    dfreq = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    order_w = W.partitionBy("doc_id").orderBy("df", "token")
    ranked = (
        tok.join(dfreq, "token")
        .withColumn("r", F.row_number().over(order_w))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("r")
        <= F.col("sz") - F.expr(f"({tn} * sz + {td - 1}) div {td}") + 1
    )
    pa = prefix.select(
        F.col("doc_id").alias("da"), "token",
        F.col("r").alias("ra"), F.col("sz").alias("sa"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("db"), "token",
        F.col("r").alias("rb"), F.col("sz").alias("sb"),
    )
    sess = tok.sparkSession
    try:
        nparts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = sess.sparkContext.defaultParallelism
    return (
        pa.join(pb, "token")
        .filter(F.col("da") < F.col("db"))
        .filter(
            (tn * F.col("sa") <= td * F.col("sb"))
            & (tn * F.col("sb") <= td * F.col("sa"))
        )
        .filter(
            1
            + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
            >= F.expr(f"({tn} * (sa + sb) + {nd - 1}) div {nd}")
        )
        .select("da", "db", "sa", "sb")
        # Explicit-N repartition on the verify join key: the candidate
        # frame is byte-SMALL but row-EXPENSIVE (one array_intersect
        # over ~100-token arrays per row downstream), so AQE's
        # byte-based coalescing starves the verify — measured 2 tasks
        # on 32 cores, and the full prefix+verify chain 7.5s → 2.6s at
        # sf0.1 once the distinct is pinned at cluster parallelism
        # (AQE leaves explicit-N repartitions alone; the distinct
        # reuses this exchange, so it is not an extra shuffle, and the
        # da-subset partitioning still satisfies the aggregation).
        .repartition(nparts, "da", "db")
        .distinct()
    )


def _ppjoin_verify(
    cand: DataFrame, tok: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Pair-local exact verification: candidates join the per-id
    token-ARRAY table twice and count one vectorized array_intersect —
    never a candidate×token explode."""
    tn, td = tau_num, tau_den
    nd = tn + td
    tsets = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    )
    return (
        cand.join(
            tsets.select(
                F.col("doc_id").alias("da"), F.col("toks").alias("ta")
            ),
            "da",
        )
        .join(
            tsets.select(
                F.col("doc_id").alias("db"), F.col("toks").alias("tb")
            ),
            "db",
        )
        .withColumn(
            "i", F.size(F.array_intersect("ta", "tb")).cast("bigint")
        )
        .filter(nd * F.col("i") >= tn * (F.col("sa") + F.col("sb")))
        .select(
            "da",
            "db",
            F.expr("(10000 * i) div (sa + sb - i)").alias("j_e4"),
        )
    )


def ppjoin_pairs(
    tok: DataFrame, tau_num: int = PPJOIN_TAU_NUM, tau_den: int = PPJOIN_TAU_DEN
) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via prefix
    filtering with PPJoin's positional + length prunes (SSJoin,
    Chaudhuri et al. ICDE'06; PPJoin, Xiao et al. WWW'08). Input: one
    (id, token) row per DISTINCT set element; output: every pair with
    J >= tau_num/tau_den as (da, db, j_e4), da < db, j_e4 =
    (10000·|∩|) div |∪| — LOSSLESS (pinned against brute force in the
    fixed-corpus and hypothesis tests).

    QUASI-CLIQUE GUARD (round 7): identical token-sets collapse to one
    representative before any pair machinery runs
    (`ppjoin_set_groups`); the prefix join and verification see only
    DISTINCT sets, and group membership expands back afterwards —
    within-group pairs are emitted directly at J = 1 (identical sets),
    cross-group representative pairs fan out member×member through two
    equi-joins. On the sf0.1 corpus ~19% of true pairs are
    identical-set pairs that now never enter candidate generation, and
    a k-document template clique costs k array rows + k·(k−1)/2 OUTPUT
    rows but only ONE set in the O(candidates) working frame. The
    residual bound is inherent to the exactness contract: output size
    itself is Σ clique-pair counts, so pair ENUMERATION at 100 TB
    should summarize or purge (dedup_cc_purge) rather than materialize
    the raw list; use `ppjoin_audit` to watch candidate overshoot.

    Plan on the distinct sets: tokens globally ordered by (document
    frequency asc, token); each set keeps its first
    (sz − ceil(τ·sz) + 1) tokens as the prefix; a pair with J ≥ τ must
    share a token inside both prefixes (the FIRST shared token in
    global order is — the suffix beyond the prefix is shorter than the
    required overlap), so an equi-join on prefix tokens is a candidate
    superset. The length filter (τ·max ≤ min) and positional filter
    (1 + min remaining-suffix must reach α = ceil(τ/(1+τ)·(sa+sb)))
    prune inside the join; both keep the first-shared-token row, so no
    true pair drops. All thresholds are exact integer
    cross-multiplications.

    τ arithmetic (integers, truncating div on both engines):
      ceil(τ·sz)        = (tau_num·sz + tau_den − 1) div tau_den
      J ≥ τ             ⟺ (tau_num+tau_den)·i ≥ tau_num·(sa+sb)
      α = ceil(τ/(1+τ)·s) = (tau_num·s + num+den − 1) div (num+den)
    """
    members = ppjoin_set_groups(tok)
    rep_ids = members.select(F.col("rid").alias("doc_id")).distinct()
    rtok = tok.join(rep_ids, "doc_id")
    cand = _ppjoin_candidates(rtok, tau_num, tau_den)
    rep_pairs = _ppjoin_verify(cand, rtok, tau_num, tau_den)
    mem_a = members.select(
        F.col("rid").alias("da"), F.col("mid").alias("ma")
    )
    mem_b = members.select(
        F.col("rid").alias("db"), F.col("mid").alias("mb")
    )
    cross = (
        rep_pairs.join(mem_a, "da")
        .join(mem_b, "db")
        .select(
            F.least("ma", "mb").alias("da"),
            F.greatest("ma", "mb").alias("db"),
            "j_e4",
        )
    )
    if tau_num > tau_den:  # τ > 1: even identical sets don't qualify
        return cross
    m1 = members.select("fp", F.col("mid").alias("da"))
    m2 = members.select("fp", F.col("mid").alias("db"))
    same = (
        m1.join(m2, "fp")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", F.lit(10000).cast("bigint").alias("j_e4"))
    )
    return same.unionByName(cross)


def ppjoin_audit(tok: DataFrame) -> DataFrame:
    """One-row overshoot audit for the PPJoin plan — the operator's own
    scale instrumentation: how many candidate pairs the prefix+length+
    positional prunes let through versus how many are true, over the
    SAME collapsed distinct-set frame ppjoin_pairs runs on. Columns:
    n_docs, n_sets (distinct token-sets — the clique-width cap),
    cand_rep_pairs (surviving candidates between representatives),
    true_rep_pairs (verified J ≥ τ representative pairs), true_pairs
    (full expanded pair count: Σ multA·multB over cross-group pairs +
    Σ mult·(mult−1)/2 within groups). At 100 TB this is the frame to
    alert on: cand_rep_pairs/true_rep_pairs drifting up means the
    prefix ordering has degraded (e.g. df skew) long before the join
    itself falls over. All five numbers are global aggregates: the
    doc-stats row carries the other four as scalar subqueries, so there
    is no driver-side collect loop."""
    tn, td = PPJOIN_TAU_NUM, PPJOIN_TAU_DEN
    members = ppjoin_set_groups(tok)
    groups = members.groupBy("rid").agg(F.first("mult").alias("mult"))
    rep_ids = groups.select(F.col("rid").alias("doc_id"))
    rtok = tok.join(rep_ids, "doc_id")
    cand = materialize(
        _ppjoin_candidates(rtok, tn, td), "ppjoin_audit.cand"
    )
    rep_pairs = materialize(
        _ppjoin_verify(cand, rtok, tn, td),
        "ppjoin_audit.rep_pairs",
    )
    doc_stats = members.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("fp").cast("bigint").alias("n_sets"),
    )
    cross_pairs = (
        rep_pairs.join(
            groups.select(
                F.col("rid").alias("da"), F.col("mult").alias("ma")
            ),
            "da",
        )
        .join(
            groups.select(
                F.col("rid").alias("db"), F.col("mult").alias("mb")
            ),
            "db",
        )
        .agg(
            F.coalesce(F.sum(F.col("ma") * F.col("mb")), F.lit(0)).cast("bigint")
        )
        .scalar()
    )
    within_pairs = groups.agg(
        (
            F.coalesce(F.sum(F.col("mult") * (F.col("mult") - 1)), F.lit(0)) / 2
        ).cast("bigint")
    ).scalar()
    n_rows = F.count(F.lit(1)).cast("bigint")
    return doc_stats.select(
        "n_docs",
        "n_sets",
        cand.agg(n_rows).scalar().alias("cand_rep_pairs"),
        rep_pairs.agg(n_rows).scalar().alias("true_rep_pairs"),
        (cross_pairs + within_pairs).cast("bigint").alias("true_pairs"),
    )
