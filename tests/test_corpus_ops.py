"""Semantic tests for the corpus-pipeline operators added in round 3:
SimHash near-dup banding, dedup-cluster resolution, deterministic
splits, vocabulary top-k."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.functions.text import (
    hash_split,
    simhash32,
    stratified_hash_sample,
    vocab_topk,
)
from financial_market_data_analysis_spark.operators.dedup import (
    connected_components,
    simhash_dedup_clusters,
    simhash_neardup_pairs,
)


def test_cluster_keeper_one_per_cluster_and_longest_wins(spark):
    """x49: exactly one keeper per cluster; the keeper is a maximal-
    length member (ties to the smallest doc id); every non-keeper row
    names its cluster's keeper."""
    from conftest import SF_SMOKE

    from financial_market_data_analysis_spark.plans.extensions import (
        q_cluster_keeper,
    )

    rows = q_cluster_keeper(spark, SF_SMOKE).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r.is_keeper]
        assert len(keepers) == 1, cid
        k = keepers[0]
        max_len = max(r.n_len for r in members)
        assert k.n_len == max_len
        assert k.doc_id == min(
            r.doc_id for r in members if r.n_len == max_len
        )
        assert all(r.keeper_id == k.doc_id for r in members)


def test_ppl_buckets_are_balanced_and_ordered(spark):
    """x42: tercile partition must be balanced within one doc, and the
    head bucket must actually be the fluent end — its mean perplexity
    proxy strictly below the tail's."""
    from conftest import SF_SMOKE

    from financial_market_data_analysis_spark.plans.extensions import (
        q_ppl_buckets,
    )

    rows = q_ppl_buckets(spark, SF_SMOKE).collect()
    by = {}
    for r in rows:
        by.setdefault(r.bucket, []).append(r.ppl_proxy)
    assert set(by) == {"head", "middle", "tail"}
    sizes = sorted(len(v) for v in by.values())
    assert sizes[-1] - sizes[0] <= 1  # terciles balanced within one
    mean = lambda v: sum(v) / len(v)
    assert mean(by["head"]) < mean(by["middle"]) < mean(by["tail"])


def test_dup_span_removal_keeps_one_occurrence(spark):
    """x44 semantics on an engineered corpus: a verbatim 8-token run
    shared by two docs survives in the KEEPER (min doc id) and is cut
    from the other; unique text is untouched; a span repeated only
    WITHIN one doc is NOT removed (cross-doc convention, same as
    x43); the digest proves the exact surviving token stream."""
    import hashlib

    from financial_market_data_analysis_spark.operators.dedup import (
        dup_span_removal,
    )

    run = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            # continuations differ immediately after the run, so the
            # ONLY shared 8-gram is the run itself
            (1, f"{run} uno one tail"),
            (2, f"head part {run} dos two"),
            # within-doc repetition only — must survive intact
            (3, f"solo solo {' '.join(['w%d' % i for i in range(8)])} "
                f"{' '.join(['w%d' % i for i in range(8)])}"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dup_span_removal(docs).collect()}
    # doc 1 is the keeper: nothing removed
    assert got[1].n_removed == 0
    assert got[1].clean_digest == hashlib.md5(
        f"{run} uno one tail".encode()
    ).hexdigest()
    # doc 2 loses exactly the 8 shared tokens
    assert got[2].n_removed == 8
    assert got[2].clean_digest == hashlib.md5(
        b"head part dos two"
    ).hexdigest()
    # doc 3's internal repetition is not cross-doc: intact
    assert got[3].n_removed == 0


def test_semantic_dedup_drops_exact_copies_keeps_originals(spark):
    """x48 SemDeDup semantics on the fixture corpus: every injected
    exact-copy embedding (vec_id >= DUP_OFFSET) must be DROPPED with
    max cosine ~1.0 against its lower-id original in the same learned
    cell; every original must be KEPT; cells cover all rows."""
    from conftest import SF_SMOKE

    from financial_market_data_analysis_spark.plans.extensions import (
        DUP_OFFSET,
        q_semantic_dedup,
    )

    out = {r.vec_id: r for r in q_semantic_dedup(spark, SF_SMOKE).collect()}
    dups = [r for v, r in out.items() if v >= DUP_OFFSET]
    assert dups, "augmentation must inject duplicates"
    for r in dups:
        assert not r.keep and r.n_dups >= 1
        assert abs(r.max_cosine - 1.0) < 1e-6
        orig = out[r.vec_id - DUP_OFFSET]
        assert orig.cell == r.cell  # identical vector → identical cell
        assert orig.keep  # the lower-id original survives
    assert all(r.cell is not None for r in out.values())


def test_simhash_banding_recall_is_exact(spark):
    """With n_bands > max_hamming the banded candidate set must contain
    EVERY pair within the Hamming budget (pigeonhole) — compare against
    a brute-force all-pairs Hamming scan on a small corpus."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i % 7} zeta eta") for i in range(40)]
        + [(100, "alpha beta gamma delta epsilon tok1 zeta eta")],  # dup of i=1
        "doc_id long, text string",
    )
    banded = {
        (r.id_a, r.id_b)
        for r in simhash_neardup_pairs(docs).collect()
    }
    sim = simhash32(docs).select("doc_id", "simhash")
    a = sim.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sim.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ch = lambda c: F.filter(F.split(F.col(c), ""), lambda x: x != "")
    ham = F.aggregate(
        F.zip_with(ch("sh_a"), ch("sh_b"), lambda x, y: (x != y).cast("int")),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("h", ham)
        .filter(F.col("h") <= 2)
        .collect()
    }
    assert banded == brute
    assert (1, 100) in banded  # the injected exact dup (hamming 0)


def test_connected_components_transitive_closure(spark):
    """A~B, B~C must cluster A,B,C together even though A,C never share
    an edge; disjoint components keep separate labels; a long chain
    still converges (diameter > 2 rounds of propagation)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20, 24: 20,
    }


def test_fused_clusters_match_pair_composition(spark):
    """The sketch-granularity fused operator must emit row-identical
    (doc_id, cluster_id) to connected_components over the doc-level
    pair table — including docs connected only via a shared sketch
    (self-loop path) and transitive cross-sketch chains."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i % 7} zeta eta") for i in range(40)]
        + [(100, "alpha beta gamma delta epsilon tok1 zeta eta")],  # dup of i=1
        "doc_id long, text string",
    )
    fused = {
        (r.doc_id, r.cluster_id)
        for r in simhash_dedup_clusters(docs).collect()
    }
    composed = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            simhash_neardup_pairs(docs)
        ).collect()
    }
    assert fused == composed and len(fused) > 0


def test_jaccard_verify_matches_set_arithmetic(spark):
    """The array verify's counts are Python set arithmetic over each
    doc's distinct token trigrams: a doc with fewer than 3 tokens has
    no shingles and drops its pair; a trigram repeated inside one doc
    counts once; a disjoint pair scores n_inter 0 and Jaccard 0.0, not
    NULL; identical docs score 1.0. Column names and types are the
    long-table verify's (only nullability moved: its counts were
    aggregates, the sizes follow the shingle-array column)."""
    from financial_market_data_analysis_spark.operators.dedup import (
        jaccard_verify,
        shingle_arrays,
    )

    texts = {
        1: "alpha beta",  # 2 tokens: no shingles
        2: "x y z x y z x y z",  # 3 distinct trigrams, each 2-3 times
        3: "p q r s",
        4: "x y z x y z x y z",  # identical to 2
        5: "X y z w",  # shares "x y z" with 2 (tokens are lowercased)
    }
    pair_list = [(1, 2), (2, 3), (2, 4), (2, 5), (3, 5)]
    docs = spark.createDataFrame(list(texts.items()), "doc_id LONG, text STRING")
    pairs = spark.createDataFrame(pair_list, "doc_a LONG, doc_b LONG")
    out = jaccard_verify(pairs, shingle_arrays(docs))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_a", "bigint"), ("doc_b", "bigint"), ("n_inter", "bigint"),
        ("n_a", "bigint"), ("n_b", "bigint"), ("jaccard", "double"),
    ]

    def shingles(text: str) -> set[str]:
        toks = text.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for a, b in pair_list:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        if sa and sb:
            want[(a, b)] = (len(sa & sb), len(sa), len(sb), len(sa & sb) / len(sa | sb))
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in out.collect()
    }
    assert got == want
    assert (1, 2) not in got
    assert got[(2, 3)] == (0, 3, 2, 0.0) and got[(3, 5)] == (0, 2, 2, 0.0)
    assert got[(2, 4)] == (3, 3, 3, 1.0)
    assert got[(2, 5)] == (1, 3, 2, 0.25)


def test_minhash_lsh_dedup_write_submits_few_jobs(spark, tmp_path):
    """The benchmark's MinHash phase — one ``minhash_lsh_dedup`` whose
    pairs are written to parquet — at sf0.001 submits at most 14 Spark
    jobs (11-12 measured with the array verify; the exploded long-table
    verify's joins, sizes aggregate and left join back submitted 23-24)."""
    from conftest import SF_SMOKE

    from financial_market_data_analysis_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from financial_market_data_analysis_spark.plans.extensions import (
        docs_augmented,
    )

    sc = spark.sparkContext
    group = "minhash_lsh_dedup_jobs"
    sc.setJobGroup(group, group)
    try:
        minhash_lsh_dedup(docs_augmented(spark, SF_SMOKE), threshold=0.5).write.parquet(
            str(tmp_path / "pairs")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n <= 14, n
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0


def test_hash_split_is_stable_and_total(spark):
    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    s1 = hash_split(docs).select("doc_id", "split")
    s2 = hash_split(docs).select("doc_id", "split")
    assert s1.exceptAll(s2).count() == 0  # deterministic, rerun-stable
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # 12/2/2 hex buckets → expect ~75/12.5/12.5%; allow generous slack
    assert counts["train"] > counts["val"] + counts["test"]


def test_stratified_sample_deterministic_and_rebalances(spark):
    """Same doc → same verdict across re-runs; a fraction-1.0 stratum
    keeps every row (the 'g' sentinel threshold); a 0.5 stratum lands
    near half."""
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    s1 = stratified_hash_sample(docs)
    s2 = stratified_hash_sample(docs)
    assert s1.exceptAll(s2).count() == 0
    rates = {
        r["lang"]: r["n"]
        for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rates["zh"] == 1000  # fraction 1.0 → all kept
    assert 400 < rates["en"] < 600  # fraction 0.5


def test_vocab_topk_tiebreak_is_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "zz aa zz aa mm"), (2, "aa zz mm qq")],
        "doc_id long, text string",
    )
    rows = vocab_topk(docs).collect()
    # tf: aa=3 zz=3 mm=2 qq=1 → ties break token-ascending
    assert [(r.token, r.tf, r.df) for r in rows] == [
        ("aa", 3, 2), ("zz", 3, 2), ("mm", 2, 2), ("qq", 1, 1)
    ]


def test_decontaminate_flags_overlapping_docs(spark):
    """A train doc quoting a bench doc's text is flagged; an unrelated
    doc is not; the bench shingle side is broadcast (no big-side
    shuffle)."""
    from financial_market_data_analysis_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy sleeping dog today")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy "
                "sleeping dog today and more"),
            (2, "completely different words about market data engines"),
        ],
        "doc_id long, text string",
    )
    rows = decontaminate(train, bench).collect()
    assert [(r.doc_id) for r in rows] == [1]
    assert rows[0].n_overlap >= 8
    plan = decontaminate(train, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_signals_values_and_short_doc_nulls(spark):
    from financial_market_data_analysis_spark.functions.text import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "hi")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    # bigrams of doc 1: [a b, b a, a b, b a, a b] -> top 3/5
    assert abs(out[1].top_bigram_frac - 0.6) < 1e-12
    # trigrams: [a b a, b a b, a b a, b a b] -> 2 repeats / 4
    assert abs(out[1].dup_trigram_frac - 0.5) < 1e-12
    assert out[2].top_bigram_frac is None
    assert out[2].dup_trigram_frac is None


def test_chunk_documents_windows_and_overlap(spark):
    """200 tokens at size=128/stride=96 → two chunks of 128 and 104
    tokens; a short doc yields exactly one (possibly short) chunk."""
    from financial_market_data_analysis_spark.functions.text import chunk_documents

    text = " ".join(f"tok{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, text), (2, "tiny doc")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.chunk_idx): r.chunk_tokens
        for r in chunk_documents(docs).collect()
    }
    assert rows == {(1, 0): 128, (1, 1): 104, (2, 0): 2}


def test_pack_sequences_budget_invariant(spark, monkeypatch):
    """Within every (shard, pack), total tokens minus the boundary doc
    stays under the target: a pack only overflows by the one document
    that straddles its end. A small budget over few shards makes packs
    fill up at this corpus size."""
    from financial_market_data_analysis_spark.functions import text as T
    from financial_market_data_analysis_spark.functions.text import pack_sequences

    monkeypatch.setattr(T, "PACK_TARGET_TOKENS", 64)
    monkeypatch.setattr(T, "PACK_SHARDS", 8)

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.col("id") % 37 + 1).cast("int"))
        ).alias("text"),
    )
    packed = pack_sequences(docs)
    w = Window.partitionBy("shard", "pack_id").orderBy(F.desc("doc_id"))
    per_pack = (
        packed.withColumn("rn", F.row_number().over(w))
        .groupBy("shard", "pack_id")
        .agg(
            F.sum("n_tokens").alias("total"),
            F.max(F.when(F.col("rn") == 1, F.col("n_tokens"))).alias("last_doc"),
        )
    )
    assert per_pack.filter(F.col("total") - F.col("last_doc") >= 64).count() == 0
    # every doc is assigned exactly once
    assert packed.count() == 300


def test_oph_bands_densify_sparse_docs(spark):
    """A 1-shingle doc fills only one OPH slot; rotation densification
    must still produce non-null hashes for all 4 bands, and identical
    texts must collide on every band."""
    from financial_market_data_analysis_spark.operators.dedup import (
        lsh_bands,
        shingle_arrays,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    bands = lsh_bands(shingle_arrays(docs), hash_method="oph-md5").collect()
    assert len(bands) == 8  # 2 docs x 4 bands
    assert all(r.band_hash is not None for r in bands)
    by_doc = {}
    for r in bands:
        by_doc.setdefault(r.doc_id, {})[r.band] = r.band_hash
    assert by_doc[1] == by_doc[2]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """``checkpoint_dir`` switches the CC loop to reliable
    ``checkpoint()`` (the cluster failure-recovery path): output must
    be IDENTICAL to the default localCheckpoint run, and checkpoint
    files must actually land under the given directory. The override
    warning is expected (conftest pins a session baseline dir);
    asserted and restored like the x16 test below."""
    import os

    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    ckpt = str(tmp_path / "cc_ckpt")
    default = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    sc = spark.sparkContext
    prev = sc._jsc.sc().getCheckpointDir()
    prev_dir = prev.get() if prev.isDefined() else None
    assert prev_dir is not None, "conftest should pin a session baseline"
    try:
        with pytest.warns(UserWarning, match="overrides the session's"):
            reliable = {
                r.doc_id: r.cluster_id
                for r in connected_components(
                    edges, checkpoint_dir=ckpt
                ).collect()
            }
    finally:
        sc.setCheckpointDir(prev_dir)
    assert reliable == default
    written = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(ckpt)
        for f in files
    ]
    assert written, "reliable checkpoint wrote no files"


def test_x16_pipeline_reliable_checkpoint_identical(spark, tmp_path):
    """r6 verdict #4: the toy-edge test above exercises the reliable
    path, but the cluster failure-recovery claim belongs to the REAL
    x16 pipeline — the fused sketch-granularity SimHash clustering the
    driver adjudicates. Run x16's exact operator on the sf0.001 corpus
    with a reliable ``checkpoint_dir`` and assert the (doc_id,
    cluster_id) output is row-identical to the default
    localCheckpoint run, with checkpoint files actually on disk.

    The explicit checkpoint_dir overrides the session baseline dir
    (conftest pins one, so the prior dir is always defined) — the
    operator's documented session-global-override warning is EXPECTED
    here, asserted via pytest.warns instead of leaking into the suite
    output, and the baseline is restored afterwards (r10 verdict
    #8)."""
    import os

    import pytest

    from conftest import SF_SMOKE
    from financial_market_data_analysis_spark.plans.extensions import (
        docs_augmented,
    )
    from financial_market_data_analysis_spark.operators.dedup import (
        simhash_dedup_clusters,
    )

    docs = docs_augmented(spark, SF_SMOKE)
    default = {
        r.doc_id: r.cluster_id
        for r in simhash_dedup_clusters(docs).collect()
    }
    assert default, "x16 found no near-dup clusters at sf0.001"
    ckpt = str(tmp_path / "x16_ckpt")
    sc = spark.sparkContext
    prev = sc._jsc.sc().getCheckpointDir()
    prev_dir = prev.get() if prev.isDefined() else None
    assert prev_dir is not None, "conftest should pin a session baseline"
    try:
        with pytest.warns(UserWarning, match="overrides the session's"):
            reliable = {
                r.doc_id: r.cluster_id
                for r in simhash_dedup_clusters(
                    docs, checkpoint_dir=ckpt
                ).collect()
            }
    finally:
        sc.setCheckpointDir(prev_dir)
    assert reliable == default
    written = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(ckpt)
        for f in files
    ]
    assert written, "reliable checkpoint wrote no files"


def test_connected_components_with_string_node_ids(spark):
    """The label-propagation loop must work for STRING node ids (the
    fused SimHash path propagates 32-char bit-string labels, so any
    numeric shortcut in the convergence check would overflow or
    miscompare — the r3 review finding)."""
    edges = spark.createDataFrame(
        [("aaa", "bbb"), ("bbb", "ccc"), ("zzz", "yyy")],
        "id_a string, id_b string",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {"aaa": "aaa", "bbb": "aaa", "ccc": "aaa",
                   "zzz": "yyy", "yyy": "yyy"}


def test_sample_then_split_keeps_all_splits(spark):
    """Regression: the sample key is salted, so composing
    stratified_hash_sample with hash_split must leave every split
    populated. (With a shared unsalted hash, sampling at fraction f
    keeps only ids whose hash prefix < f — which empties the val/test
    buckets entirely for f ≤ 0.75.)"""
    docs = spark.range(400).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.lit("en").alias("lang"),
    )
    kept = stratified_hash_sample(docs)  # "en" keeps fraction 0.5
    splits = {r["split"] for r in hash_split(kept).select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}


def test_hex_bucket_two_digit_span_and_guard(spark):
    """OPH bucketing past 16 slots reads a second hex digit (slots
    16..k-1 must be reachable), and k > 256 raises instead of silently
    collapsing recall."""
    import pytest as _pytest

    from financial_market_data_analysis_spark.operators.dedup import _hex_bucket

    hashes = spark.range(2000).select(
        F.md5(F.col("id").cast("string").cast("binary")).alias("h")
    )
    buckets = hashes.select(_hex_bucket(F.col("h"), 32).alias("b"))
    stats = buckets.agg(
        F.countDistinct("b").alias("n"), F.min("b").alias("lo"), F.max("b").alias("hi")
    ).first()
    assert stats["n"] > 16  # the second digit is engaged
    assert stats["lo"] >= 0 and stats["hi"] <= 31
    with _pytest.raises(ValueError):
        _hex_bucket(F.col("h"), 257)


def test_bpe_merge_greedy_overlap_semantics(spark):
    """x40's merge application must be GREEDY left-to-right and
    non-overlapping: in 'aaa' the pair (a,a) merges positions 1-2 only,
    and a merged symbol never re-pairs within the same round. Training
    on a corpus engineered so (a,a) wins round 1 must reflect exactly
    that in round 2's pair table."""
    from financial_market_data_analysis_spark.functions.text import bpe_merges

    # 'aaa' x4 makes (a,a) the top pair (count 8: two per word);
    # 'bc' x3 is the runner-up
    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa aaa bc bc bc")], ["doc_id", "text"]
    )
    out = bpe_merges(docs).collect()
    r1 = {(r.left_sym, r.right_sym): (r.rank, r.pair_count) for r in out if r.round == 1}
    assert r1[("a", "a")] == (1, 8)
    # after merging: each 'aaa' -> [aa, a]; round-2 pairs from 'aaa'
    # are (aa, a) x4 — NOT (a, aa), proving left-to-right greediness —
    # and 'bc' still contributes (b, c) x3
    r2 = {(r.left_sym, r.right_sym): r.pair_count for r in out if r.round == 2}
    assert r2[("aa", "a")] == 4
    assert r2[("b", "c")] == 3
    assert ("a", "aa") not in r2


def test_bpe_encode_counts_match_trained_merges(spark):
    """x41: encoding applies the trained merges greedily per token —
    with the 'aaa' corpus from the greedy test, merge 1 is (a,a) and
    merge 2 is (aa,a), so 'aaa' encodes to ONE symbol, 'bc' stays two
    chars (with n_merges=2 the second merge wins over (b,c) only if
    its count is higher — engineer counts so it is)."""
    from financial_market_data_analysis_spark.functions.text import bpe_encode

    # (a,a) count 8 wins round 1; after merging, (aa,a) count 4 beats
    # (b,c) count 3 in round 2 → 'aaa' = 1 token, 'bc' = 2 tokens
    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa aaa bc bc bc"), (2, "bc aaa")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in bpe_encode(docs).collect()}
    assert got[1].n_words == 7
    assert got[1].n_bpe_tokens == 4 * 1 + 3 * 2  # 4×'aaa' + 3×'bc'
    assert got[2].n_words == 2
    assert got[2].n_bpe_tokens == 2 + 1
    assert abs(got[2].bpe_per_word - 1.5) < 1e-9
    # a doc with zero tokens is absent, not a null row
    empty = spark.createDataFrame([(1, "aaa bc"), (2, "!!!")], ["doc_id", "text"])
    ids = {r.doc_id for r in bpe_encode(empty).collect()}
    assert ids == {1}


def test_rolling_corr_known_series(spark, monkeypatch):
    """W12 semantics on engineered series: y = 2x + 1 gives corr = 1,
    y = -x gives corr = -1, and rows before the warm-up period are
    NULL; the sf0.001 parity row is vacuous (too few joint buckets for
    the 20-row frame), so this pins the operator locally."""
    from financial_market_data_analysis_spark.operators import windows as W

    monkeypatch.setattr(W, "ROLLING_PERIOD", 10)
    rows = [(i, float(i % 7 + i), 0.0) for i in range(30)]
    df = spark.createDataFrame(rows, ["t", "x", "y"]).withColumn(
        "y", 2 * F.col("x") + 1
    )
    out = W.rolling_corr(df, "x", "y", ["t"]).orderBy("t").collect()
    assert all(r["corr"] is None for r in out[:9])
    assert all(abs(r["corr"] - 1.0) < 1e-9 for r in out[9:])
    anti = df.withColumn("y", -F.col("x"))
    out2 = W.rolling_corr(anti, "x", "y", ["t"]).orderBy("t").collect()
    assert all(abs(r["corr"] + 1.0) < 1e-9 for r in out2[9:])


def test_bpe_merges_degenerate_vocab_is_empty_not_crash(spark):
    """A corpus whose vocabulary has no adjacent symbol pairs (all
    single-character words) must yield an empty merge table — exactly
    what the SQL twin emits — rather than crashing on a missing best
    pair (r5 review)."""
    from financial_market_data_analysis_spark.functions.text import bpe_merges

    docs = spark.createDataFrame([(1, "a b c a b")], ["doc_id", "text"])
    assert bpe_merges(docs).count() == 0


def test_x60_incremental_never_pairs_old_with_old(spark):
    """x60's contract: the maintenance job reports pairs the DELTA
    introduces — two near-identical docs that both live in the OLD
    snapshot must NOT be re-paired (that pair either was already
    handled by a previous run or predates the index; re-emitting it
    every night is the O(corpus²) cost the incremental job exists to
    avoid). Built directly on the operator composition with a tiny
    corpus: old = {1, 2 near-dups of each other, 3 unrelated},
    delta = {10 ~ 1}. Expected output: exactly (10, 1)-class pairs,
    never (1, 2)."""
    import financial_market_data_analysis_spark.operators.dedup as D

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    old = spark.createDataFrame(
        [
            (1, base),
            (2, base + " phi"),          # old-old near-dup of 1
            (3, "completely different words " * 5),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " chi")], "doc_id long, text string"
    )
    new_bands = D.lsh_bands(D.shingle_arrays(new))
    old_bands = D.lsh_bands(D.shingle_arrays(old))
    nn = (
        new_bands.selectExpr("doc_id as doc_a", "band", "band_hash")
        .join(
            new_bands.selectExpr("doc_id as doc_b", "band", "band_hash"),
            ["band", "band_hash"],
        )
        .filter("doc_a < doc_b")
    )
    no = (
        new_bands.selectExpr("doc_id as doc_a", "band", "band_hash")
        .join(
            old_bands.selectExpr("doc_id as doc_b", "band", "band_hash"),
            ["band", "band_hash"],
        )
    )
    cand = nn.select("doc_a", "doc_b").unionByName(
        no.select("doc_a", "doc_b")
    ).distinct()
    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert (10, 1) in pairs and (10, 2) in pairs
    assert not any({a, b} <= {1, 2, 3} for a, b in pairs), pairs


def test_nb_classifier_learns_above_chance(spark):
    """x62's oracle row proves Spark and DuckDB agree; this pins that
    the classifier actually LEARNS — on the fixture corpus (whose
    languages differ by stopword distribution) test accuracy must beat
    the 4-class chance rate by a wide margin, predictions must span
    more than one class, and every test doc must get exactly one row."""
    from financial_market_data_analysis_spark.functions.text import hash_split
    from financial_market_data_analysis_spark.plans.extensions import (
        NB_MARK_MOD,
        q_nb_classifier,
    )
    from conftest import SF_SMOKE

    out = q_nb_classifier(spark, SF_SMOKE)
    rows = out.collect()
    n_test = (
        hash_split(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
        .filter(F.col("split") == "test")
        .count()
    )
    assert len(rows) == n_test  # one prediction per test doc, none dropped
    marked = [r for r in rows if r.doc_id % NB_MARK_MOD != 0]
    acc_marked = sum(r.correct for r in marked) / len(marked)
    # docs carrying the injected marker must be classified near-perfectly
    assert acc_marked > 0.9, acc_marked
    acc = sum(r.correct for r in rows) / len(rows)
    assert acc > 0.6, acc  # 5 classes → chance ~0.2, majority ~0.38
    assert len({r.pred_lang for r in rows}) > 1  # not a constant classifier


def test_dsir_selection_enriches_target_distribution(spark):
    """x64's reason to exist: the selected subset must be ENRICHED in
    the target distribution (en docs) relative to the raw corpus —
    measured precision lift, not just oracle parity — and the log
    weights must center near zero for raw-typical docs (the two
    smoothed LMs share most of their mass)."""
    from financial_market_data_analysis_spark.plans.extensions import (
        DSIR_TARGET_LANG,
        q_dsir_weights,
    )
    from conftest import SF_SMOKE

    rows = q_dsir_weights(spark, SF_SMOKE).collect()
    assert len(rows) == 500  # one weight per doc, zero-bigram docs kept
    sel = [r for r in rows if r.selected]
    assert sel, "selection must be non-empty"
    p_overall = sum(r.lang == DSIR_TARGET_LANG for r in rows) / len(rows)
    p_sel = sum(r.lang == DSIR_TARGET_LANG for r in sel) / len(sel)
    assert p_sel > 1.5 * p_overall, (p_sel, p_overall)  # measured ~0.71 vs 0.39
    # selected ⇔ positive rounded weight (the zero-threshold contract)
    assert all((r.logratio > 0) == r.selected for r in rows)


def test_x68_contamination_report_is_nonvacuous_and_consistent(spark):
    """x68 must actually flag something on the fixture (the augmented
    near-dups of bench docs are contaminated by construction), its
    fractions must be valid (0 < frac <= 1), and the binary x22 gate
    must agree: every doc x22 flags at min_overlap appears in x68 with
    at least that many total hits across sets."""
    from pyspark.sql import functions as F

    import financial_market_data_analysis_spark.plans.extensions as X
    from conftest import SF_SMOKE
    from financial_market_data_analysis_spark.operators.dedup import (
        DECON_MIN_OVERLAP,
    )

    rep = X.q_contamination_scores(spark, SF_SMOKE).localCheckpoint()
    rows = rep.collect()
    assert rows, "empty contamination report"
    assert any(r.flagged == 1 for r in rows), "nothing flagged"
    for r in rows:
        assert 1 <= r.n_hits <= r.n_shingles
        assert 0 < r.contam_frac <= 1

    gate = {r.doc_id for r in X.q_decontaminate(spark, SF_SMOKE).collect()}
    totals = {
        r.doc_id: r.total
        for r in rep.groupBy("doc_id").agg(F.sum("n_hits").alias("total")).collect()
    }
    for doc in gate:
        assert totals.get(doc, 0) >= DECON_MIN_OVERLAP, doc


def test_source_kl_nonnegative_and_centroid_cos_bounded(spark):
    """x72: KL divergence is non-negative by Gibbs' inequality — a
    negative value means the distributions were normalized wrong.
    x71: a cosine outside [-1, 1] means the norm algebra broke."""
    import financial_market_data_analysis_spark.plans.extensions as X
    from conftest import SF_SMOKE

    kl = X.q_source_kl(spark, SF_SMOKE).collect()
    assert kl, "no sources"
    for r in kl:
        assert r.kl_vs_corpus >= -1e-9, (r.source, r.kl_vs_corpus)
        assert r.n_vocab <= r.n_tokens

    cm = X.q_centroid_matrix(spark, SF_SMOKE).collect()
    assert cm, "no label pairs"
    for r in cm:
        assert -1.0 - 1e-9 <= r.centroid_cos <= 1.0 + 1e-9


def test_leakage_free_split_has_no_cross_split_neardups(spark):
    """x73's structural claim, checked behaviorally: no near-dup
    cluster spans two splits (the leakage x17's doc-keyed split DOES
    exhibit on the injected pairs — asserted too, so the test proves
    x73 fixes a real failure rather than a vacuous one), and
    singleton docs keep exactly their x17 assignment."""
    from pyspark.sql import functions as F

    import financial_market_data_analysis_spark.plans.extensions as X
    from conftest import SF_SMOKE

    out = X.q_leakage_free_split(spark, SF_SMOKE).localCheckpoint()
    spans = (
        out.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0

    # the doc-keyed split leaks on at least one injected pair
    from financial_market_data_analysis_spark.functions.text import hash_split

    aug = X.docs_augmented(spark, SF_SMOKE)
    doc_split = hash_split(aug.select("doc_id")).select("doc_id", "split")
    clustered = out.filter(F.col("cluster_id").isNotNull()).select(
        "doc_id", "cluster_id"
    )
    leaky = (
        clustered.join(doc_split, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert leaky > 0, "fixture has no cross-split cluster under x17 — vacuous"

    singles = out.filter(F.col("cluster_id").isNull()).select("doc_id", "split")
    diff = singles.join(
        doc_split.withColumnRenamed("split", "s17"), "doc_id"
    ).filter(F.col("split") != F.col("s17")).count()
    assert diff == 0


def test_filter_funnel_is_conserving_and_every_stage_bites(spark):
    """x74 invariants: stage k's n_out equals stage k+1's n_in (no
    documents appear or vanish between gates), counts are consistent
    (n_in - n_dropped == n_out), and every stage drops at least one
    document on the fixture — a funnel with a vacuous stage proves
    nothing about that gate."""
    import financial_market_data_analysis_spark.plans.extensions as X
    from conftest import SF_SMOKE

    rows = sorted(
        X.q_filter_funnel(spark, SF_SMOKE).collect(),
        key=lambda r: r.stage_ord,
    )
    assert [r.stage for r in rows] == [
        "exact_dedup", "quality_rules", "decontaminate"
    ]
    for r in rows:
        assert r.n_in - r.n_dropped == r.n_out
        assert r.n_dropped > 0, f"vacuous stage: {r.stage}"
    for a, b in zip(rows, rows[1:]):
        assert a.n_out == b.n_in


def test_sliced_minhash_matches_sql_twin(spark, monkeypatch):
    """x80's sliced sketch: every (doc, seed) minhash from the
    digest-slicing Spark build must equal the DuckDB twin — including
    that seed s really reads digest s//4 at offset (s%4)*8 (the
    F.transform two-parameter-lambda trap this test would catch:
    transform calls (element, INDEX), silently replacing a bound
    constant)."""
    import duckdb

    import financial_market_data_analysis_spark.operators.dedup as D
    import financial_market_data_analysis_spark.plans.extensions as X

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta zeta eta theta"),
        (3, "iota kappa lambda mu nu xi omicron pi"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    monkeypatch.setattr(D, "SLICED_MINHASH_K", 8)
    got = sorted(
        (r.doc_id, r.seed, r.mh)
        for r in D.sliced_minhash_signatures(df).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"WITH sh AS ({X._shingles_sql('d')}) "
            + D.sliced_minhash_sql()
        ).fetchall()
    )
    assert got == want
    # the slices of one digest must actually differ (a wrong offset
    # that reuses slice 0 for all four seeds would still "match" a
    # similarly wrong oracle only if both engines made the same
    # mistake — this pins the intra-digest variation directly)
    per_doc = {}
    for d, s, mh in got:
        per_doc.setdefault(d, []).append(mh)
    assert all(len(set(v[:4])) > 1 for v in per_doc.values())
