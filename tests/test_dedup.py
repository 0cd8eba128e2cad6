"""Dedup-operator tests: LSH paths validated against exact counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from durable_functions_cosmosdb_etl_spark.operators import dedup as dd
from durable_functions_cosmosdb_etl_spark.operators import text as tx
from durable_functions_cosmosdb_etl_spark.sources.tables import load_table


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_exact_dedup_groups(spark):
    rows = [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.keeper_id: r.n_copies for r in dd.exact_dedup_groups(df, "text", "doc_id").collect()}
    assert got == {1: 3, 2: 1}


def test_minhash_lsh_vs_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = _pairs(dd.jaccard_pairs(docs, threshold=0.5))
    lsh = _pairs(dd.minhash_lsh_pairs(docs, threshold=0.5))
    assert exact, "fixture should contain near-dup pairs"
    # precision 1.0 by construction (candidates re-verified with exact
    # jaccard); recall bounded by the banding capture probability
    assert lsh.issubset(exact)
    assert len(lsh) / len(exact) >= 0.8


def test_simhash_finds_strong_neardups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    strong = _pairs(dd.jaccard_pairs(docs, threshold=0.8))
    sh = _pairs(dd.simhash_pairs(docs, max_hamming=8))
    if strong:  # strong shingle overlap ⇒ small simhash hamming distance
        assert len(strong & sh) / len(strong) >= 0.5
    ham = dd.simhash_pairs(docs, max_hamming=8).agg(F.max("hamming")).first()[0]
    assert ham is None or ham <= 8


def test_jaccard_df_cap_is_superset_filter(spark, sf_dir):
    """Stop-shingle capping may only drop pairs, never invent them."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    full = _pairs(dd.jaccard_pairs(docs, threshold=0.5))
    capped = dd.jaccard_pairs(docs, threshold=0.5, max_shingle_df=50)
    assert _pairs(capped).issubset(full)


def test_ml_minhash_agrees_with_exact(spark, sf_dir):
    """pyspark.ml MinHashLSH pair set ⊇-checked against exact Jaccard:
    high recall, and every returned pair verified truly similar by
    recomputing exact Jaccard on it."""
    from durable_functions_cosmosdb_etl_spark.operators import dedup
    from durable_functions_cosmosdb_etl_spark.operators.ml_lsh import (
        ml_minhash_pairs,
    )
    from durable_functions_cosmosdb_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in ml_minhash_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9
    # precision on the hashed feature space: allow few borderline extras
    assert len(got - exact) <= max(2, len(exact) // 4)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Continuous-ingestion dedup: batch 2's near-dups of batch 1 docs
    are rejected via the persistent band index; fresh docs pass; in-batch
    dups collapse; replaying a batch accepts nothing new (idempotent)."""
    from durable_functions_cosmosdb_etl_spark.streaming.dedup_incremental import (
        dedup_batch_against_index,
    )

    idx = str(tmp_path / "index")
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different content about spark plans and shuffle behavior",
        "a third unique document mentioning windows aggregates and joins",
    ]
    b1 = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], "doc_id long, text string"
    )
    acc1 = dedup_batch_against_index(spark, b1, idx)
    assert {r.doc_id for r in acc1.collect()} == {0, 1, 2}

    near_dup0 = "the quick brown fox jumps over the lazy dog again and again"
    fresh = "entirely new material covering streaming state stores and rocksdb"
    b2 = spark.createDataFrame(
        [
            (10, near_dup0),          # near-dup of doc 0 → rejected
            (11, fresh),              # fresh → accepted
            (12, fresh + " !"),       # near-dup of 11 within batch → dropped
        ],
        "doc_id long, text string",
    )
    acc2 = dedup_batch_against_index(spark, b2, idx)
    assert {r.doc_id for r in acc2.collect()} == {11}

    # replay batch 2: its accepted doc now collides with its own index row
    acc2b = dedup_batch_against_index(spark, b2, idx)
    assert acc2b.count() == 0

    accepted = spark.read.parquet(f"{idx}/accepted")
    assert {r.doc_id for r in accepted.collect()} == {0, 1, 2, 11}


def test_incremental_dedup_shingleless_docs_survive_ansi(spark, tmp_path):
    """Empty/whitespace/null/short texts produce NO shingles; under
    ANSI their all-zero-signature band collisions made the exact verify
    0/0 (job kill). They must be accepted unconditionally (no near-dup
    evidence), never band-collide, and real near-dup detection must be
    unaffected in the same batch."""
    from durable_functions_cosmosdb_etl_spark.streaming.dedup_incremental import (
        dedup_batch_against_index,
    )

    idx = str(tmp_path / "index")
    b1 = spark.createDataFrame(
        [
            (0, ""),
            (1, "   "),
            (2, None),
            (3, "xy"),
            (4, "the quick brown fox jumps over the lazy dog again today"),
        ],
        "doc_id long, text string",
    )
    acc1 = dedup_batch_against_index(spark, b1, idx)
    assert {r.doc_id for r in acc1.collect()} == {0, 1, 2, 3, 4}
    b2 = spark.createDataFrame(
        [
            (10, ""),   # shingle-less again: accepted, no 0/0 verify
            (11, "the quick brown fox jumps over the lazy dog again"),
        ],
        "doc_id long, text string",
    )
    acc2 = dedup_batch_against_index(spark, b2, idx)
    # 11 is a near-dup of indexed doc 4 → rejected; 10 accepted
    assert {r.doc_id for r in acc2.collect()} == {10}


def test_streaming_dedup_ingest_end_to_end(spark, tmp_path):
    """foreachBatch wrapper: files arrive as micro-batches; the accepted
    table ends with exactly the cross-batch-unique docs."""
    from durable_functions_cosmosdb_etl_spark.streaming.dedup_incremental import (
        streaming_dedup_ingest,
    )

    incoming = str(tmp_path / "incoming")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    f1 = [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    f2 = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota"),  # dup of 0
        (11, "totally fresh words about catalyst optimizer rule batches"),
    ]
    schema = "doc_id long, text string"
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(
        incoming
    )
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(
        incoming
    )
    streaming_dedup_ingest(
        spark, incoming, idx, ckpt,
        schema="doc_id long, text string",
    )
    accepted = {
        r.doc_id for r in spark.read.parquet(f"{idx}/accepted").collect()
    }
    assert accepted == {0, 11}


def test_incremental_dedup_partition_pruning_and_replay(spark, tmp_path):
    """The per-batch read-back prunes to the batch's own partition
    (VERDICT r01 #4), and a deterministic batch tag makes replays
    exactly-once: same partitions overwritten, no duplicates, no loss."""
    from durable_functions_cosmosdb_etl_spark.streaming.dedup_incremental import (
        dedup_batch_against_index,
    )

    idx = str(tmp_path / "index")
    b1 = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "totally fresh words about catalyst optimizer rule batches")],
        "doc_id long, text string",
    )
    acc1 = dedup_batch_against_index(spark, b1, idx, batch_tag="b0")
    assert {r.doc_id for r in acc1.collect()} == {0}
    acc2 = dedup_batch_against_index(spark, b2, idx, batch_tag="b1")
    assert {r.doc_id for r in acc2.collect()} == {10}
    # read-back prunes to the batch's own partition: the scan carries a
    # PartitionFilter on the tag (inputFiles() lists the pre-pruning
    # relation, so inspect the physical plan instead)
    plan = acc2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ingest_batch" in plan.split("PartitionFilters", 1)[1][:200]

    # replay batch 2 under the SAME tag: its partition is rewritten in
    # place — the returned acceptance is identical (not empty, not
    # duplicated) and the stored table still has exactly one row per doc
    acc2r = dedup_batch_against_index(spark, b2, idx, batch_tag="b1")
    assert {r.doc_id for r in acc2r.collect()} == {10}
    accepted = spark.read.parquet(f"{idx}/accepted")
    assert sorted(r.doc_id for r in accepted.collect()) == [0, 10]
    # the band index holds each doc's bands exactly once after replay
    from durable_functions_cosmosdb_etl_spark.operators.dedup import LSH_BANDS

    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.count() == 2 * LSH_BANDS
    # shingles stored once per doc, not once per band row
    shingles = spark.read.parquet(f"{idx}/shingles")
    assert shingles.count() == 2


def test_shingler_matches_hof_expression(spark, sf_dir):
    """The NGram shingler must be byte-exact vs the HOF expression
    ``shingles_from_words(words(text))`` for n in {1, 3, 5}, including
    the whitespace edge cases Java's ASCII \\s+ split produces: U+00A0
    and U+3000 are not whitespace to it, so they never split. NULL text
    gives no shingles (the HOF form would give [NULL])."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    edge = spark.createDataFrame(
        [
            (9001, "a b c d"),
            (9002, "  leading and trailing  "),
            (9003, "tab\tseparated words here"),
            (9004, "line\nbreak words here"),
            (9005, "two  spaces between words"),
            (9006, "only two"),
            (9007, ""),
            (9008, "a a a a a"),
            (9009, "\tx y z\n"),
            (9010, "no\u00a0break space here now"),
            (9011, "ideographic\u3000space here and there"),
        ],
        "doc_id long, text string",
    )
    null_row = spark.createDataFrame([(9100, None)], "doc_id long, text string")
    for n in (1, 3, 5):
        for df in (docs.select("doc_id", "text"), edge):
            fast = dd._shingled(df, "doc_id", "text", n)
            # word array materialized first: the HOF lambda must read an
            # attribute, not an inline split() (see shingles_from_words)
            slow = df.select(
                "doc_id", tx.words(F.col("text")).alias("w")
            ).select("doc_id", tx.shingles_from_words(F.col("w"), n).alias("sh"))
            got = {r.doc: r.sh for r in fast.collect()}
            want = {r.doc_id: r.sh for r in slow.collect()}
            assert got == want, f"n={n}"
        assert [
            (r.doc, r.sh, r.n_sh)
            for r in dd._shingled(null_row, "doc_id", "text", n).collect()
        ] == [(9100, [], 0)]
    nbsp = {r.doc: r.sh for r in dd._shingled(edge, "doc_id", "text", 1).collect()}
    assert "no\u00a0break" in nbsp[9010]
    assert "ideographic\u3000space" in nbsp[9011]


def test_shingler_plan_has_no_python_stage(spark, sf_dir):
    """Shingling runs in the JVM: no Python-worker node in the executed
    plan (each such task pays a fixed ~0.2 s even on warm workers)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd._shingled(docs, "doc_id", "text", 3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_substring_pairs_position_independent(spark):
    """A verbatim span shared at DIFFERENT offsets must collide: the
    fingerprint set is a function of content, not position."""
    import random

    rng = random.Random(7)
    span = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(200))
    filler1 = "".join(rng.choice("0123456789 ") for _ in range(80))
    filler2 = "".join(rng.choice("QRSTUVWXYZ ") for _ in range(150))
    filler3 = "".join(rng.choice("!@#$%^&*() ") for _ in range(200))
    docs = spark.createDataFrame(
        [
            (1, span + " " + filler1),
            (2, filler2 + " " + span),
            (3, filler3),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in dd.substring_pairs(docs).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(p == (1, 2) for p in got)


def test_substring_pairs_no_false_positives(spark):
    """Disjoint alphabets cannot share a 32-char gram."""
    docs = spark.createDataFrame(
        [(1, "a" * 300), (2, "b" * 300)], "doc_id long, text string"
    )
    assert dd.substring_pairs(docs).count() == 0


def _cc(spark, edges, stats=None):
    """Star-contraction labels: passing ``nodes`` skips the small-graph
    union-find path, so the distributed rounds run."""
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    nodes = (
        pairs.select(F.col("doc_a").alias("doc"))
        .union(pairs.select("doc_b"))
        .distinct()
    )
    out = dd.connected_components(pairs, nodes, stats=stats)
    return {r["doc"]: r["component"] for r in out.collect()}


def test_cc_star_matches_union_find_on_mixed_graph(spark):
    # two cliques bridged by a chain + an isolated pair
    edges = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        + [(10, 11), (11, 12), (12, 13), (4, 10)]
        + [(20, 21)]
    )
    star = _cc(spark, edges)
    # nodes=None + default local_threshold: the driver union-find path
    uf_stats = {}
    uf = dd.connected_components(
        spark.createDataFrame(edges, "doc_a int, doc_b int"), stats=uf_stats
    )
    assert uf_stats["local"]
    assert star == {r["doc"]: r["component"] for r in uf.collect()}
    assert set(star.values()) == {1, 20}


def test_cc_star_chain_rounds_logarithmic(spark):
    """A duplicate chain is min-label propagation's worst case
    (O(diameter) rounds); star contraction must stay O(log n):
    n=32 chain → ≤ log2(32)+3 = 8 rounds."""
    import math

    n = 32
    edges = [(i, i + 1) for i in range(1, n)]
    st = {}
    labels = _cc(spark, edges, stats=st)
    assert all(c == 1 for c in labels.values())
    assert st["rounds"] <= math.ceil(math.log2(n)) + 3, st


def test_cc_star_singleton_and_empty(spark):
    pairs = spark.createDataFrame([], "doc_a int, doc_b int")
    nodes = spark.createDataFrame([(7,), (9,)], "doc int")
    out = dd.connected_components(pairs, nodes)
    got = {r["doc"]: r["component"] for r in out.collect()}
    assert got == {7: 7, 9: 9}


def test_jaccard_collapse_identical_equivalence(spark):
    """collapse_identical=True is byte-identical to the plain
    inverted-index join — on a corpus where exact copies form cliques
    (the case the collapse removes a c-squared candidate multiplier
    from), with and without the df cap, including the within-group
    jaccard values under capping."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "a completely different document about spark physical planning"),
        (2, "the quick brown fox jumps over the lazy dog again and often"),
        (3, "short text"),
    ]
    # 6 copies of each doc (shifted ids) + one unique straggler
    rows = [(i + 100 * c, t) for (i, t) in base for c in range(6)]
    rows.append((999, "an entirely unique closing document with many words here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap=10 sits between one group's df (6) and two overlapping
    # groups' (12): group-local shingles survive, cross-doc shared
    # shingles drop — exercising the capped within-group jaccard.
    for cap in (None, 10):
        a = dd.jaccard_pairs(
            docs, n=2, threshold=0.3, max_shingle_df=cap,
            collapse_identical=False,
        )
        b = dd.jaccard_pairs(
            docs, n=2, threshold=0.3, max_shingle_df=cap,
            collapse_identical=True,
        )
        ra = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in a.collect()
        )
        rb = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in b.collect()
        )
        assert ra == rb, f"cap={cap}: collapse path diverged"
        assert len(ra) > 0
        if cap is None:
            # within-group pairs carry exactly 1.0 (under the cap the
            # doc-0/doc-2 groups lose their shared shingles, so their
            # within-group jaccard drops below 1 — by design)
            ones = [p for p in rb if p[2] == 1.0]
            assert len(ones) >= 3 * (6 * 5 // 2)


def test_minhash_collapse_identical_equivalence(spark):
    """minhash_lsh_pairs collapse path is BYTE-identical to the
    uncollapsed path (identical shingle sets => identical signatures =>
    identical banding decisions; within-group jaccard exactly 1.0) on a
    copy-clique corpus, at both the production banding and the
    completeness banding."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "a completely different document about spark physical planning"),
        (2, "the quick brown fox jumps over the lazy dog again and often"),
        (3, "short text"),
    ]
    rows = [(i + 100 * c, t) for (i, t) in base for c in range(6)]
    rows.append((999, "an entirely unique closing document with many words here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for tm in (None, 1e-9):
        a = dd.minhash_lsh_pairs(
            docs, n=2, threshold=0.3, target_miss=tm,
            collapse_identical=False,
        )
        b = dd.minhash_lsh_pairs(
            docs, n=2, threshold=0.3, target_miss=tm,
            collapse_identical=True,
        )
        ra = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in a.collect())
        rb = sorted((r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in b.collect())
        assert ra == rb, f"target_miss={tm}: collapse path diverged"
        assert len(ra) > 0


def test_simhash_collapse_identical_equivalence(spark):
    """Both simhash variants' collapse path (group on the simhash VALUE)
    is byte-identical to the uncollapsed chunk join on a copy-clique
    corpus — including the empty-shingle degenerate group in the 64-bit
    variant, whose members pair at hamming 0 either way."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "a completely different document about spark physical planning"),
        (2, "the quick brown fox jumps over the lazy dog again and often"),
        (3, "x"),  # shingle-less at n=2
    ]
    rows = [(i + 100 * c, t) for (i, t) in base for c in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from durable_functions_cosmosdb_etl_spark.operators.dedup import (
        SIMHASH_CHUNKS,
        _simhash_pairs_core,
        _shingle_hashes,
        portable_shingle_hashes,
        simhash,
    )

    sh64 = (
        _shingle_hashes(docs, "doc_id", "text", 2)
        .withColumn("sim", simhash(F.col("hs")))
        .select("doc", "sim")
    )
    vote = (
        "aggregate(sequence(0, 47), 0L, (acc, i) -> acc + "
        "CASE WHEN 2 * aggregate(hs, 0L,"
        "             (a, h) -> a + (shiftright(h, i) & 1)) > size(hs)"
        "     THEN shiftleft(1L, i) ELSE 0L END)"
    )
    sh48 = (
        portable_shingle_hashes(docs, "doc_id", "text", 2)
        .filter(F.col("n_sh") >= 1)
        .select("doc", F.expr(vote).alias("sim"))
    )
    for sh, bits, chunks, cutoff, lng in [
        (sh64, 16, 4, 8, False),
        (sh48, 8, SIMHASH_CHUNKS, SIMHASH_CHUNKS - 1, True),
    ]:
        plain = _simhash_pairs_core(
            sh, bits, chunks, cutoff, cast_long=lng, collapse_identical=False
        )
        coll = _simhash_pairs_core(
            sh, bits, chunks, cutoff, cast_long=lng, collapse_identical=True
        )
        ra = sorted((r.doc_a, r.doc_b, r.hamming) for r in plain.collect())
        rb = sorted((r.doc_a, r.doc_b, r.hamming) for r in coll.collect())
        assert ra == rb, f"{bits}-bit chunks: collapse path diverged"
        assert len(ra) > 0


def test_jaccard_components_equivalence(spark):
    """jaccard_components (CC on the representative graph + membership
    expansion) equals connected_components(jaccard_pairs(...)) — the
    composition that materializes every within-clique pair — on a
    copy-clique corpus, with and without the df cap. This is the
    equivalence the registered dedup_components query now relies on."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "a completely different document about spark physical planning"),
        (2, "the quick brown fox jumps over the lazy dog again and often"),
        (3, "short text"),
    ]
    rows = [(i + 100 * c, t) for (i, t) in base for c in range(6)]
    rows.append((999, "an entirely unique closing document with many words here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (None, 10):
        expanded = dd.connected_components(
            dd.jaccard_pairs(docs, n=2, threshold=0.3, max_shingle_df=cap)
        )
        collapsed = dd.jaccard_components(
            docs, n=2, threshold=0.3, max_shingle_df=cap
        )
        ea = sorted((r.doc, r.component) for r in expanded.collect())
        ca = sorted((r.doc, r.component) for r in collapsed.collect())
        assert ea == ca, f"cap={cap}: rep-graph CC diverged"
        assert len(ea) > 0


def test_substring_collapse_identical_equivalence(spark):
    """substring_pairs collapse path matches the plain gram join on a
    corpus with exact-copy cliques, including the within-group
    self-count sum(cnt^2) under gram multiset semantics."""
    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta " * 30),
        (1, "one two three four five six seven eight nine ten " * 30),
        (2, "alpha beta gamma delta epsilon zeta eta theta " * 29 + "coda"),
    ]
    rows = [(i + 100 * c, t) for (i, t) in base for c in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = dd.substring_pairs(docs, k=20, p=8, collapse_identical=False)
    b = dd.substring_pairs(docs, k=20, p=8, collapse_identical=True)
    ra = sorted((r.doc_a, r.doc_b, r.n_shared) for r in a.collect())
    rb = sorted((r.doc_a, r.doc_b, r.n_shared) for r in b.collect())
    assert ra == rb
    assert len(ra) >= 3 * (5 * 4 // 2)  # each clique fully paired


def test_cc_local_fast_path_matches_distributed(spark):
    """The small-graph local union-find (nodes=None, edges under the
    threshold) produces exactly the distributed star labels, including
    chains, cliques, self-loops and duplicate edges."""
    edges = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        + [(10, 11), (11, 12), (12, 13), (4, 10)]
        + [(20, 21), (21, 20), (7, 7)]
    )
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b int")
    st = {}
    local = dd.connected_components(pairs, stats=st)
    assert st.get("local") is True
    got = {(r.doc, r.component) for r in local.collect()}
    dist = dd.connected_components(pairs, local_threshold=0)
    want = {(r.doc, r.component) for r in dist.collect()}
    assert got == want
    # self-loop-only node 7 is dropped by canonicalization in BOTH paths
    assert 7 not in {d for d, _ in got}


def _labels(df):
    return {(r.doc, r.component) for r in df.collect()}


def test_cc_local_fast_path_plans_as_local_table_scan(spark):
    """The fast path returns its labels as an Arrow local relation
    (pure JVM), not a list-backed RDD scan that runs a Python-worker
    stage on every execution."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    st = {}
    out = dd.connected_components(pairs, stats=st)
    assert st.get("local") is True
    assert _labels(out) == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_cc_local_threshold_boundary(spark):
    """local_threshold counts raw edges (duplicates and self-loops
    included): exactly n_edges takes the local path, n_edges - 1 the
    distributed rounds, with identical labels."""
    edges = [(1, 2), (2, 3), (3, 1), (2, 1), (8, 9), (9, 9), (4, 8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    st_local, st_dist = {}, {}
    local = dd.connected_components(
        pairs, stats=st_local, local_threshold=len(edges)
    )
    assert st_local.get("local") is True
    dist = dd.connected_components(
        pairs, stats=st_dist, local_threshold=len(edges) - 1
    )
    assert "local" not in st_dist and st_dist["rounds"] >= 1
    assert _labels(local) == _labels(dist)
    assert _labels(local) == {(1, 1), (2, 1), (3, 1), (4, 4), (8, 4), (9, 4)}


def test_cc_local_empty_edges_keep_schema(spark):
    """No edges → zero rows, still typed (node_col, component) after
    the edge type."""
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dd.connected_components(pairs, node_col="rep")
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("rep", "bigint"),
        ("component", "bigint"),
    ]


def test_cc_local_mixed_int_long_and_string_ids(spark):
    """Mixed int/long endpoints give one long label column (no
    truncation of long ids); string node ids label by their minimum."""
    big = 1 << 40
    mixed = spark.createDataFrame([(1, big), (2, big + 1)], "doc_a int, doc_b long")
    out = dd.connected_components(mixed)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]
    assert _labels(out) == {(1, 1), (big, 1), (2, 2), (big + 1, 2)}
    words = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("y", "x"), ("z", "z")], "doc_a string, doc_b string"
    )
    st = {}
    got = _labels(dd.connected_components(words, stats=st))
    assert st.get("local") is True
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    assert got == _labels(dd.connected_components(words, local_threshold=0))


def test_should_collapse_probe_decision(spark):
    """The "auto" duplication probe: engages on copy-heavy corpora,
    stays off on all-distinct ones, and honors explicit pins."""
    distinct = spark.createDataFrame(
        [(i, f"unique text number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    copies = spark.createDataFrame(
        [(i, f"copy number {i % 10}") for i in range(200)],
        "doc_id long, text string",
    )
    assert dd._should_collapse(distinct, "text", "auto") is False
    assert dd._should_collapse(copies, "text", "auto") is True
    assert dd._should_collapse(distinct, "text", True) is True
    assert dd._should_collapse(copies, "text", False) is False
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dd._should_collapse(empty, "text", "auto") is False


def test_minhash_shingleless_docs_survive_ansi(spark):
    """Two shingle-less docs (empty/whitespace/short/null text) get
    identical all-zero minhash signatures, band-collide, and the exact
    verify is 0/0 — a DIVIDE_BY_ZERO job kill under ANSI (Spark 4
    default) in the UNCOLLAPSED branch before the n_sh >= 1 filter was
    mirrored there. Both branches must drop them and agree."""
    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, None),
            (4, "xy"),
            (5, "real text with enough words to shingle just fine here"),
            (6, "real text with enough words to shingle just fine here"),
        ],
        "doc_id long, text string",
    )
    for collapse in (False, True):
        out = dd.minhash_lsh_pairs(
            docs, threshold=0.5, collapse_identical=collapse
        )
        rows = sorted((r.doc_a, r.doc_b) for r in out.collect())
        assert rows == [(5, 6)], f"collapse={collapse}: {rows}"


_FAMILY = [
    ("jaccard_pairs", "text"),
    ("jaccard_components", "text"),
    ("minhash_lsh_pairs", "text"),
    ("simhash_pairs_portable", "text"),
    ("simhash_pairs", "text"),
    ("substring_pairs", "text"),
    ("cosine_pairs_lsh", "vec"),
    ("semantic_dedup", "vec"),
]


@pytest.mark.parametrize("op_name,kind", _FAMILY, ids=[n for n, _ in _FAMILY])
def test_auto_probe_consulted_by_every_family_member(
    spark, monkeypatch, op_name, kind
):
    """EVERY member of the collapse family must resolve the literal
    string "auto" through ``_should_collapse`` — never treat it as a
    truthy value. Regression guard for the round-4 defect where
    ``semantic_dedup`` had ``if collapse_identical:`` and therefore
    ALWAYS collapsed (an unconditional vector-keyed window shuffle on
    copy-light corpora). On an all-distinct corpus the probe must
    resolve to False, i.e. the no-collapse plan is chosen."""
    from durable_functions_cosmosdb_etl_spark.operators import similarity as sim

    calls = []
    real = dd._should_collapse

    def recorder(df, col, setting):
        decision = real(df, col, setting)
        calls.append((col, setting, decision))
        return decision

    monkeypatch.setattr(dd, "_should_collapse", recorder)

    if kind == "text":
        corpus = spark.createDataFrame(
            [(i, f"entirely unique text body number {i} with words") for i in range(60)],
            "doc_id long, text string",
        )
        op = getattr(dd, op_name)
        out = op(corpus, collapse_identical="auto")
    else:
        corpus = spark.createDataFrame(
            [(i, [float(i), float(i * 2 + 1), 1.0]) for i in range(60)],
            "vec_id long, embedding array<float>",
        )
        op = getattr(sim, op_name)
        if op_name == "cosine_pairs_lsh":
            out = op(corpus, threshold=0.99, collapse_identical="auto")
        else:
            out = op(corpus, n_clusters=4, collapse_identical="auto")
    out.count()  # force plan build + execution
    auto_calls = [c for c in calls if c[1] == "auto"]
    assert auto_calls, f"{op_name} never consulted _should_collapse for 'auto'"
    assert all(c[2] is False for c in auto_calls), (
        f"{op_name}: probe chose collapse on an all-distinct corpus: {auto_calls}"
    )
