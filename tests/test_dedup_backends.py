"""The xxhash64 production backend must find the same planted near-dup
pairs as the md5 parity backend — the exact-Jaccard verify is backend-
independent, so any pair surviving both candidate generations carries an
identical jaccard value."""

from __future__ import annotations

import pytest

from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
    dedup_hash_backend,
    minhash_lsh_dedup,
)
from automated_agro_climatic_data_warehouse_spark.plans.dedup_queries import _expanded_docs


def _pairs(spark, sf_dir, backend):
    docs = _expanded_docs(spark, sf_dir)
    return {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_dedup(docs, backend=backend).collect()
    }


def test_backends_agree_on_planted_dups(spark, sf_dir):
    md5_pairs = _pairs(spark, sf_dir, "md5")
    xx_pairs = _pairs(spark, sf_dir, "xxhash64")
    assert md5_pairs, "planted near-dups must be found"
    # every planted pair (orig, orig+100000) is a >0.9-jaccard near-dup —
    # both backends' band geometry must surface all of them
    planted_md5 = {p for p, j in md5_pairs.items() if j >= 0.9}
    planted_xx = {p for p, j in xx_pairs.items() if j >= 0.9}
    assert planted_md5 == planted_xx
    # shared pairs carry identical exact-Jaccard values
    for p in set(md5_pairs) & set(xx_pairs):
        assert md5_pairs[p] == xx_pairs[p]


def test_unknown_backend_raises(spark, sf_dir):
    docs = _expanded_docs(spark, sf_dir)
    with pytest.raises(ValueError, match="backend"):
        minhash_lsh_dedup(docs, backend="sha1").collect()


def test_dedup_hash_env_rejects_unknown_value(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_DEDUP_HASH has one reader: md5 by default, xxhash64 on
    request, and a loud error naming the variable for anything else —
    including at plan build of the bloom-prefilter join, which once ran
    md5 on any value but "xxhash64"."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    monkeypatch.delenv("SPARK_GRAFT_DEDUP_HASH", raising=False)
    assert dedup_hash_backend() == "md5"
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_HASH", "xxhash64")
    assert dedup_hash_backend() == "xxhash64"
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_HASH", "xxhash")
    with pytest.raises(ValueError, match="SPARK_GRAFT_DEDUP_HASH"):
        dedup_hash_backend()
    with pytest.raises(ValueError, match="SPARK_GRAFT_DEDUP_HASH"):
        QUERIES["j12_bloom_prefilter_join"].spark_fn(spark, sf_dir)


def test_ngram_hot_shingle_candidates_bounded(spark):
    """Worst-case corpus: 1000 docs ALL sharing one boilerplate 3-gram,
    plus 10 true near-dup pairs. Uncapped, the inverted-index self-join
    would emit ~1000²/2 candidate pairs off the hot shingle; the df cap
    must keep the candidate count bounded while still finding every true
    pair — and the found pairs' Jaccard values must match a brute-force
    computation over FULL shingle sets."""
    import itertools

    from pyspark.sql import functions as F

    from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_docs,
    )

    rows = []
    for i in range(1000):
        # unique body per doc + the corpus-wide boilerplate tail
        body = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, body + " terms of service apply"))
    # 10 true near-dups: copy of doc i with one word changed
    for i in range(10):
        base = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((10_000 + i, base.replace("x3", "y3") + " terms of service apply"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=50)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}

    # every true pair found (they share many RARE shingles)
    for i in range(10):
        assert (i, 10_000 + i) in got, f"missing true pair {i}"

    # brute-force full-set Jaccard over the pairs found — values exact
    sh = shingle_docs(docs).collect()
    sets: dict[int, set] = {}
    for r in sh:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert abs(j - inter / union) < 1e-12
        assert j >= 0.3

    # bounded blowout: no pair should exist on boilerplate alone — the
    # result set stays near the true-pair count, nowhere near 1000²/2
    assert len(got) < 100


def test_simhash64_band_blocking_matches_brute_force(spark, sf_dir):
    """The 64/16 band join must return EXACTLY the brute-force
    hamming<=3 pair set (candidate-completeness pigeonhole), and its
    band-key cardinality must scale with the corpus — the property the
    16-bit twin lacks (64 fixed keys -> O(n^2/16) candidates)."""
    from pyspark.sql import functions as F

    from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_hamming_pairs,
    )
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = simhash_fingerprints(docs, bits=64).localCheckpoint(eager=True)
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_hamming_pairs(
            fp, bits=64, band_bits=16, max_hamming=3
        ).collect()
    }
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute
    n = fp.count()
    keys = fp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(65535))
                        .alias("v"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("k")
    ).distinct().count()
    # near-orthogonal docs -> band values are almost all distinct; the
    # 16/4 geometry caps at 64 regardless of n
    assert keys > 2 * n, f"band keys {keys} do not scale with corpus {n}"


def test_simhash_band_guard_rejects_uncovered_hamming(spark):
    import pytest as _pytest

    from automated_agro_climatic_data_warehouse_spark.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame([(1, 0)], "doc_id int, simhash long")
    with _pytest.raises(ValueError, match="candidate-complete"):
        simhash_hamming_pairs(df, bits=64, band_bits=16, max_hamming=4)


def test_incremental_dedup_from_persisted_index(spark, tmp_path):
    """The incremental path's contract is 'LSH-join the delta against a
    PERSISTED signature index'. Round-trip the indexed side's minhash
    signatures through parquet and verify the bipartite pairs are
    IDENTICAL to the in-memory run — i.e. the index really is
    persistable state, not a lineage artifact."""
    from pyspark.sql import functions as F

    from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
        jaccard_verify,
        lsh_band_signatures,
        minhash_signatures,
        shingle_docs,
    )
    from automated_agro_climatic_data_warehouse_spark.plans.dedup_queries import (
        _expanded_docs,
    )
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    docs = _expanded_docs(spark, sf)
    indexed = docs.filter(F.col("doc_id") >= 0)
    idx_path = str(tmp_path / "sig_index")
    minhash_signatures(
        shingle_docs(indexed, distinct=False)
    ).write.parquet(idx_path)

    new_batch = docs.filter(F.col("doc_id") < 0)
    mh_new = minhash_signatures(shingle_docs(new_batch, distinct=False))
    bands_new = lsh_band_signatures(mh_new).select(
        F.col("doc_id").alias("doc_a"), "band_id", "sig"
    )
    bands_idx = lsh_band_signatures(spark.read.parquet(idx_path)).select(
        F.col("doc_id").alias("doc_b"), "band_id", "sig"
    )
    cand = bands_new.join(bands_idx, ["band_id", "sig"]).select(
        "doc_a", "doc_b"
    ).distinct()
    sh = shingle_docs(docs, distinct=True)
    persisted = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in jaccard_verify(cand, sh, threshold=0.6).collect()
    }
    in_memory = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in QUERIES["dedup_incremental_batch"].spark_fn(spark, sf).collect()
    }
    assert persisted == in_memory and len(persisted) > 0


def test_cluster_aware_split_has_no_leakage(spark):
    """split_cluster_aware's whole point: no near-dup cluster may
    straddle splits, and every corpus doc gets exactly one row."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["split_cluster_aware"].spark_fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    straddlers = {c: s for c, s in by_cluster.items() if len(s) > 1}
    assert not straddlers, straddlers
    assert len({r.doc_id for r in rows}) == len(rows)
