"""Property-based tests (SURVEY §5 item 5) over randomized frames:
merge algebra, risk-score bounds, dedup/minhash invariants, and the
Q11-style cross-column consistency of the gold aggregations."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wikistream_event_data_pipeline_aws_spark.operators.merge import (
    merge_insert_only,
    merge_upsert,
)
from wikistream_event_data_pipeline_aws_spark.operators.textops import (
    minhash_signature,
)
from wikistream_event_data_pipeline_aws_spark.plans.wiki import (
    _risk_projection,
    hourly_stats_df,
    user_daily_metrics_df,
    with_time_cols,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row = st.tuples(
    st.integers(0, 30),  # key
    st.integers(0, 5),  # version
    st.text("abcde", min_size=0, max_size=6),
)
frames = st.lists(row, min_size=0, max_size=40)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0, "")], "k int, v int, payload string").limit(
        len(rows)
    )


@SLOW
@given(target=frames, source=frames)
def test_merge_insert_only_replay_is_noop(spark, target, source):
    t, s = _df(spark, target), _df(spark, source)
    once = merge_insert_only(t, s, ["k"])
    twice = merge_insert_only(once, s, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # target rows always survive insert-only
    assert once.count() >= t.count()


@SLOW
@given(target=frames, source=frames)
def test_merge_upsert_is_idempotent_and_key_unique(spark, target, source):
    t = _df(spark, target).dropDuplicates(["k"])
    s = _df(spark, source)
    once = merge_upsert(t, s, ["k"], order_by=["v", "payload"])
    twice = merge_upsert(once, s, ["k"], order_by=["v", "payload"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.count() == once.select("k").distinct().count()


events_rows = st.lists(
    st.tuples(
        st.integers(0, 10_000),  # event_id
        st.integers(0, 72),  # hours offset
        st.integers(1, 40),  # user_id
        st.sampled_from(["click", "view", "purchase", "signup", "error"]),
        st.floats(0, 2000, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=120,
)


def _events_df(spark, rows):
    df = spark.createDataFrame(
        [(e, h, u, t, float(v)) for e, h, u, t, v in rows],
        "event_id long, h int, user_id long, event_type string, value double",
    )
    return with_time_cols(
        df.withColumn(
            "ts", F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,h,0,0)")
        )
    )


@SLOW
@given(rows=events_rows)
def test_risk_scores_bounded_and_banded(spark, rows):
    e = _events_df(spark, rows)
    risk = _risk_projection(user_daily_metrics_df(e)).collect()
    for r in risk:
        assert 0 <= r["risk_score"] <= 100
        expected = (
            "HIGH" if r["risk_score"] >= 70 else "MEDIUM" if r["risk_score"] >= 40 else "LOW"
        )
        assert r["risk_level"] == expected
        assert r["alert"] == (r["risk_score"] >= 70)


@SLOW
@given(rows=events_rows)
def test_hourly_stats_consistency(spark, rows):
    e = _events_df(spark, rows)
    hs = hourly_stats_df(e).collect()
    total = sum(r["total_events"] for r in hs)
    assert total == len(rows)
    for r in hs:
        # Q11 invariant + the type breakdown must repartition the total
        assert r["total_events"] >= r["unique_users"]
        parts = r["n_click"] + r["n_view"] + r["n_purchase"] + r["n_signup"] + r["n_error"]
        assert parts == r["total_events"]
        assert 0.0 <= r["error_pct"] <= 100.0


@SLOW
@given(
    texts=st.lists(
        st.text("abcdef ghij", min_size=0, max_size=60), min_size=1, max_size=12
    )
)
def test_minhash_identical_docs_share_signature(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    clones = [(i + 1000, t) for i, t in rows]
    d = spark.createDataFrame(rows + clones, "doc_id long, text string")
    sigs = {r["doc_id"]: tuple(r)[1:] for r in minhash_signature(d, "doc_id", "text").collect()}
    for i, _ in rows:
        assert sigs[i] == sigs[i + 1000]


edge = st.tuples(st.integers(0, 25), st.integers(0, 25))


@SLOW
@given(edges=st.lists(edge, min_size=1, max_size=40))
def test_connected_components_fixpoint_and_connectivity(spark, edges):
    from wikistream_event_data_pipeline_aws_spark.operators.clusters import (
        connected_components,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    # every endpoint labelled, label is a member of the node set, label <= node
    for a, b in edges:
        assert labels[a] == labels[b]  # direct edges share a cluster
        for n in (a, b):
            assert labels[n] <= n
            assert labels[n] in labels and labels[labels[n]] == labels[n]
    # reference answer: union-find on the driver
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n, lbl in labels.items():
        assert lbl == find(n)


def test_pagerank_converged_is_iteration_count_invariant(spark):
    """The convergence contract (VERDICT r3 item 5): once the L1 delta
    clears the tolerance, one further _pr_step moves the rank vector by
    at most that tolerance — i.e. the converged vector is a fixed point
    up to tol, independent of how many extra iterations run. Also pins
    that the loop actually stopped on the delta test (iters < max) and
    that a larger max_iters budget returns the identical vector."""
    from pyspark.sql import functions as F

    from wikistream_event_data_pipeline_aws_spark.plans.graph import (
        PR_SCALE,
        _cooccurrence_edges,
        _pr_step,
        pagerank_converged,
    )

    sf = "/root/testdata/sf0.001"
    tol = 10
    pr, iters = pagerank_converged(spark, sf, tol_per_node=tol, max_iters=50)
    assert 0 < iters < 50, iters

    # identical result under a bigger iteration budget (stop is data-driven)
    pr2, iters2 = pagerank_converged(spark, sf, tol_per_node=tol, max_iters=49)
    assert iters2 == iters
    a = {r["node"]: r["pr"] for r in pr.collect()}
    b = {r["node"]: r["pr"] for r in pr2.collect()}
    assert a == b

    # one extra step stays within tolerance: fixed point up to tol
    edges = _cooccurrence_edges(spark, sf)
    directed = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = directed.join(deg, "src")
    nodes = deg.select(F.col("src").alias("node"))
    n_nodes = nodes.count()
    nxt = _pr_step(ed, nodes, pr)
    delta = (
        nxt.join(pr.withColumnRenamed("pr", "prev"), "node")
        .agg(F.sum(F.abs(F.col("pr") - F.col("prev"))).alias("d"))
        .collect()[0]["d"]
    )
    assert delta <= tol * n_nodes
    # sanity: ranks are positive and bounded by the damping identity
    assert all(0 < v < 100 * PR_SCALE for v in a.values())


def test_snapshot_layer_model_based_random_ops(spark, tmp_path):
    """Model-based check of the snapshot/MoR layer: a deterministic mix
    of append / overwrite / equality-delete / rollback ops applied to
    BOTH the real table and a pure-Python model; after every op, every
    historical version must read back exactly the model's keys (so
    sequence-scoped deletes, carried delete files, and metadata-only
    rollbacks are all validated against an independent semantics, not
    against the implementation's own bookkeeping)."""
    from wikistream_event_data_pipeline_aws_spark.operators import snapshots as snap

    table = str(tmp_path / "model_t")

    def df_of(keys):
        return spark.createDataFrame([(int(k),) for k in keys], "k long")

    # deterministic op script exercising every arm, including
    # delete-then-reinsert (sequence semantics) and rollback-over-delete
    script = [
        ("append", {0, 1, 2, 3, 4}),
        ("delete", {1, 3}),
        ("append", {3, 5}),          # re-insert 3 after its delete
        ("rollback", 2),             # back to post-delete state
        ("append", {6}),
        ("overwrite", {7, 8}),
        ("delete", {7}),
        ("append", {7, 9}),          # re-insert 7
    ]
    model_versions = []  # model_versions[v-1] = expected key multiset

    for op, arg in script:
        if op == "append":
            snap.snapshot_write(spark, table, df_of(arg))
            prev = model_versions[-1] if model_versions else set()
            model_versions.append(set(prev) | set(arg))
        elif op == "overwrite":
            snap.snapshot_write(spark, table, df_of(arg), mode="overwrite")
            model_versions.append(set(arg))
        elif op == "delete":
            snap.snapshot_delete(spark, table, df_of(arg), ["k"])
            model_versions.append(set(model_versions[-1]) - set(arg))
        elif op == "rollback":
            snap.rollback(table, arg)
            model_versions.append(set(model_versions[arg - 1]))
        # EVERY version must still read back its model state
        for v, expected in enumerate(model_versions, start=1):
            got = {r.k for r in snap.read_snapshot(spark, table, v).collect()}
            assert got == expected, (op, v, got, expected)


def test_linkage_half_key_pruning_equals_naive_matcher(spark, monkeypatch):
    """The half-key candidate pruning must lose NO matches: on a fixture
    built to hit every arm (substitution in first half, in second half,
    at the split boundary, insertion/deletion with length diff 1, and
    non-matches), the optimized matcher equals the naive score-everything
    form exactly."""
    import pyspark.sql.functions as F

    import wikistream_event_data_pipeline_aws_spark.plans.linkage as L

    rows = [
        # (key, name, nation, segment)
        (1, "alpha-omega-123", 1, "A"),
        (2, "alpha-omega-124", 1, "A"),   # sub in second half
        (3, "Xlpha-omega-123", 1, "A"),   # sub in first half
        (4, "alpha-oXega-123", 1, "A"),   # sub just after split
        (5, "alpha-omega-1234", 1, "A"),  # insertion (len diff 1)
        (6, "alpha-omega-12", 1, "A"),    # deletion  (len diff 1)
        (7, "totally-different", 1, "A"), # same block, no match
        (8, "alpha-omega-123", 2, "A"),   # other block: never paired
        (9, "alph-omega-123", 1, "A"),    # deletion in first half
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, c_mktsegment string"
    )
    monkeypatch.setattr(L, "load_table", lambda spark, sf_dir, name: df)

    fast = {
        (r.key_a, r.key_b, r.edit_dist)
        for r in L.record_linkage_matches(spark, "ignored").collect()
    }
    naive = {
        (r.key_a, r.key_b, r.edit_dist)
        for r in (
            L.candidate_pairs(df)
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= L.MAX_EDIT_DISTANCE)
            .select("key_a", "key_b", "edit_dist")
            .collect()
        )
    }
    assert fast == naive
    # the fixture really exercises the arms: subs in both halves and
    # length-diff-1 edits all matched
    matched_keys = {k for pair in fast for k in pair[:2]}
    assert {1, 2, 3, 4, 5, 6, 9} <= matched_keys


def test_snapshot_model_with_wap_and_mor_interleaved(spark, tmp_path):
    """Extends the model-based check across the FULL op surface: WAP
    stage/publish/abort interleaved with appends, equality deletes and
    a rollback — including a concurrent commit landing between stage
    and publish (publish must compose with the NEW parent) and an abort
    that must leave no trace. Every version re-checks against the
    pure-Python model after every op."""
    from wikistream_event_data_pipeline_aws_spark.operators import snapshots as snap

    table = str(tmp_path / "wap_model_t")

    def df_of(keys):
        return spark.createDataFrame([(int(k),) for k in keys], "k long")

    model = []  # expected key set per version

    def check():
        for v, expected in enumerate(model, start=1):
            got = {r.k for r in snap.read_snapshot(spark, table, v).collect()}
            assert got == expected, (v, got, expected)

    snap.snapshot_write(spark, table, df_of({0, 1, 2}))
    model.append({0, 1, 2}); check()

    # stage s1, then a concurrent append lands BEFORE publish
    snap.snapshot_stage(spark, table, df_of({10, 11}), "s1")
    snap.snapshot_write(spark, table, df_of({3}))
    model.append({0, 1, 2, 3}); check()
    snap.snapshot_publish(table, "s1")
    model.append({0, 1, 2, 3, 10, 11}); check()

    # delete two keys, then stage s2 and ABORT it — nothing changes
    snap.snapshot_delete(spark, table, df_of({1, 10}), ["k"])
    model.append({0, 2, 3, 11}); check()
    snap.snapshot_stage(spark, table, df_of({99}), "s2")
    snap.snapshot_abort(table, "s2")
    check()  # no new version, all history intact

    # publish after a delete must carry the delete files forward,
    # and a re-insert of a deleted key via staging must survive
    snap.snapshot_stage(spark, table, df_of({1}), "s3")
    snap.snapshot_publish(table, "s3")
    model.append({0, 1, 2, 3, 11}); check()

    # rollback over the whole tangle re-points exactly
    snap.rollback(table, 3)
    model.append({0, 1, 2, 3, 10, 11}); check()


# -- anti-entropy reconciliation ------------------------------------------------

recon_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 60), st.integers(-100, 100)),
    min_size=0,
    max_size=50,
    unique_by=lambda t: (t[0], t[1]),  # one signature per (part, key)
)
mutations = st.lists(st.integers(0, 60), max_size=8)


@SLOW
@given(rows=recon_rows, dropped=mutations, bumped=mutations)
def test_merkle_compare_finds_exactly_the_mutations(spark, rows, dropped, bumped):
    """For ANY keyed table and ANY drop/modify mutation set, the
    two-level comparison flags exactly the partitions containing a
    mutation, counts exactly the mutated keys, and reports everything
    else in_sync."""
    from wikistream_event_data_pipeline_aws_spark.operators.reconcile import (
        merkle_compare,
    )

    def df(data):
        return spark.createDataFrame(
            data or [(0, 0, 0)], "part int, key int, sig long"
        ).limit(len(data))

    src = rows
    rep = [
        (p, k, sig + 7 if k in set(bumped) else sig)
        for (p, k, sig) in rows
        if k not in set(dropped)
    ]
    out = {r.part: r for r in merkle_compare(df(src), df(rep)).collect()}
    mutated_keys = {
        (p, k)
        for (p, k, sig) in src
        if k in set(dropped) or (k in set(bumped) and sig + 7 != sig)
    }
    divergent_parts = {p for p, _ in mutated_keys}
    assert set(out) == {p for (p, _, _) in src}
    for p, r in out.items():
        assert r.in_sync == (p not in divergent_parts), (p, r)
        expect_keys = sum(1 for (pp, _) in mutated_keys if pp == p)
        assert r.n_divergent_keys == expect_keys, (p, r)


# -- incremental view maintenance algebra --------------------------------------

ivm_keys = st.lists(st.integers(0, 25), min_size=0, max_size=30)


@SLOW
@given(cust=ivm_keys, orders=ivm_keys, cmod=st.integers(2, 5), omod=st.integers(2, 5))
def test_ivm_join_delta_algebra_holds_for_any_split(spark, cust, orders, cmod, omod):
    """Δ(C ⋈ O) = ΔC⋈O ∪ C⋈ΔO ∪ ΔC⋈ΔO for ANY insert-only split of
    both sides: counts and checksums add exactly."""
    from wikistream_event_data_pipeline_aws_spark.plans.relational import _ivm_arm

    cdf = spark.createDataFrame(
        [(k, f"c{k}") for k in set(cust)] or [(0, "z")], "c_custkey int, c_mktsegment string"
    ).limit(len(set(cust)))
    odf = spark.createDataFrame(
        [(i, k) for i, k in enumerate(orders)] or [(0, 0)], "o_orderkey int, o_custkey int"
    ).limit(len(orders))
    cb = cdf.filter(F.col("c_custkey") % cmod != 0)
    cd = cdf.filter(F.col("c_custkey") % cmod == 0)
    ob = odf.filter(F.col("o_orderkey") % omod != 0)
    od = odf.filter(F.col("o_orderkey") % omod == 0)
    arms = {
        name: _ivm_arm(c, o, name).collect()[0]
        for name, c, o in (
            ("view_old", cb, ob),
            ("arm_dc_o", cd, ob),
            ("arm_c_do", cb, od),
            ("arm_dc_do", cd, od),
            ("view_new", cdf, odf),
        )
    }
    deltas = ("arm_dc_o", "arm_c_do", "arm_dc_do")
    assert arms["view_new"].n_rows == arms["view_old"].n_rows + sum(
        arms[a].n_rows for a in deltas
    )
    assert arms["view_new"].checksum == arms["view_old"].checksum + sum(
        arms[a].checksum for a in deltas
    )


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_bigram_surprisal_matches_python_reference(spark, docs):
    """The three-join count pipeline equals a direct per-doc recompute:
    for every doc, surprisal_sum == sum over bigram occurrences of
    bitlen(c1(w1) + V) - bitlen(c12(w1,w2) + 1) with corpus-global
    counts — any join dropping/duplicating an occurrence breaks it."""
    from wikistream_event_data_pipeline_aws_spark.plans.text import (
        bigram_surprisal_df,
    )

    corpus = [(i, " ".join(words)) for i, words in enumerate(docs)]
    c12, c1, vocab = {}, {}, set()
    for _, text in corpus:
        toks = text.split()
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    v = len(vocab)
    expect = {}
    for doc_id, text in corpus:
        toks = text.split()
        if len(toks) < 2:
            continue
        ssum = sum(
            (c1[a] + v).bit_length() - (c12[(a, b)] + 1).bit_length()
            for a, b in zip(toks, toks[1:])
        )
        expect[doc_id] = (len(toks) - 1, ssum)

    d = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.surprisal_sum)
        for r in bigram_surprisal_df(d).collect()
    }
    assert got == expect


def test_weighted_wor_matches_python_md5_reference(spark, sf_dir):
    """Full python replication of the sampler: md5 60-bit uniform,
    iterated-sqrt key (math.sqrt is correctly rounded, like the
    engines'), top-K per lang — doc ids, ranks AND float keys must be
    bit-equal to the Spark result."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from wikistream_event_data_pipeline_aws_spark.plans.llmprep import (
        WOR_K,
        _WOR_MAXB,
        _WOR_SEED,
        sample_weighted_wor,
    )

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"])
    rows = tbl.to_pylist()
    by_lang = {}
    for r in rows:
        h = int(hashlib.md5(f"{_WOR_SEED}{r['doc_id']}".encode()).hexdigest()[:15], 16)
        u = float(h + 1) / float(1 << 60)
        b = min(int(r["n_chars"]).bit_length(), _WOR_MAXB)
        key = u
        for _ in range(b):
            key = math.sqrt(key)
        by_lang.setdefault(r["lang"], []).append((key, r["doc_id"], b))
    expect = set()
    for lang, ks in by_lang.items():
        ks.sort(key=lambda t: (-t[0], t[1]))
        for rank, (key, doc_id, b) in enumerate(ks[:WOR_K], start=1):
            expect.add((doc_id, lang, b, key, rank))

    got = {
        (r.doc_id, r.lang, r.weight_exponent, r.sample_key, r.sample_rank)
        for r in sample_weighted_wor(spark, sf_dir).collect()
    }
    assert got == expect


# -- round-7 operators vs pure-Python references ---------------------------------
#
# DuckDB-oracle parity can mask a bug both engines share (same wrong SQL
# transcribed twice). These recompute the round-7 operators in plain
# Python from first principles, with no SQL on either side.

import hashlib
import math


def _py_hash16(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)


def _py_hash60(s: str, seed: str = "") -> int:
    return int(hashlib.md5((seed + s).encode()).hexdigest()[:15], 16)


def _py_simhash(tokens: list[str], nbits: int, hf) -> int:
    votes = [0] * nbits
    for t in tokens:
        h = hf(t)
        for b in range(nbits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(nbits) if votes[b] > 0)


@SLOW
@given(
    docs=st.lists(
        st.lists(st.text("abcxyz0189", min_size=1, max_size=5), max_size=25),
        min_size=1,
        max_size=15,
    )
)
def test_simhash_fused_matches_python_reference(spark, docs):
    """Both fingerprint widths of the map-only expression formulation
    equal a from-scratch Python majority vote on arbitrary token lists
    (incl. empty docs, where tokenize yields the single empty token)."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import (
        simhash_fused,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.simhash, r.simhash60)
        for r in simhash_fused(df, "doc_id", "text").collect()
    }
    for i, toks in enumerate(docs):
        eff = toks if toks else [""]  # split(trim('')) -> ['']
        want16 = _py_simhash(eff, 16, _py_hash16)
        want60 = _py_simhash(eff, 60, lambda s: _py_hash60(s, "sh60"))
        assert got[i] == (want16, want60), (i, eff)


def test_bm25_matches_python_reference(spark, sf_dir):
    """text_bm25_topk against a from-scratch Python BM25 over the same
    parquet corpus: same rational IDF, same length normalization, same
    decimal-then-rank tie-breaking."""
    from decimal import Decimal, ROUND_HALF_UP

    import pandas as pd

    from wikistream_event_data_pipeline_aws_spark.plans.text import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOPK,
        text_bm25_topk,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    # mirror the engine tokenizer exactly: split(trim(text), '\s+') on an
    # empty/whitespace-only string yields [''] (ONE empty token), while
    # str.split() yields [] — the avgdl/df divergence would fail this test
    # spuriously if such a document ever entered the fixture (ADVICE r7)
    toks = {
        int(r.doc_id): (r.text.strip().split() or [""]) for r in docs.itertuples()
    }
    n_docs = len(toks)
    sum_dl = sum(len(t) for t in toks.values())
    avgdl = float(sum_dl) / n_docs
    expect = []
    for qid, terms in BM25_QUERIES:
        scored = []
        for doc_id, t in toks.items():
            hits = {term: t.count(term) for term in terms if term in t}
            if not hits:
                continue
            score = Decimal(0)
            for term, tf in hits.items():
                df_docs = sum(1 for tt in toks.values() if term in tt)
                idf = (n_docs - df_docs + 0.5) / (df_docs + 0.5)
                norm = (tf * (BM25_K1 + 1.0)) / (
                    tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (len(t) / avgdl))
                )
                score += Decimal(repr(idf * norm)).quantize(
                    Decimal("1.000000000"), rounding=ROUND_HALF_UP
                )
            scored.append((doc_id, score, len(hits)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rnk, (doc_id, score, n_terms) in enumerate(scored[:BM25_TOPK], 1):
            expect.append((qid, rnk, doc_id, n_terms, float(score)))
    got = sorted(
        (r.query_id, r.rnk, r.doc_id, r.n_terms, r.bm25)
        for r in text_bm25_topk(spark, sf_dir).collect()
    )
    assert got == sorted(expect)


# -- round-8 media fingerprints vs pure-Python references -------------------------
#
# Same discipline as the round-7 block above: the DuckDB oracles derive
# the fingerprints from md5 hex, but a shared misunderstanding of the
# PAIR LISTS could be transcribed into both engines. These recompute
# the fingerprints in plain Python from arbitrary payload bytes, with
# the REAL containers round-tripped through the Spark operators.


def _py_phash(px: bytes) -> int:
    from wikistream_event_data_pipeline_aws_spark.operators.multimodal import (
        PHASH_PAIRS,
    )

    return sum(1 << k for k, (i, j) in enumerate(PHASH_PAIRS) if px[i] < px[j])


def _py_afp(s: bytes) -> int:
    from wikistream_event_data_pipeline_aws_spark.operators.multimodal import (
        AFP_N_WIN,
        AFP_PAIRS,
        AFP_STRIDE,
        AFP_WIN,
    )

    en = []
    for i in range(AFP_N_WIN):
        w = s[i * AFP_STRIDE : i * AFP_STRIDE + AFP_WIN]
        en.append(w[0] ** 2 + w[2] ** 2)
        en.append(w[1] ** 2 + w[3] ** 2)
    return sum(1 << k for k, (i, j) in enumerate(AFP_PAIRS) if en[i] < en[j])


@SLOW
@given(
    payloads=st.lists(
        st.binary(min_size=64, max_size=64), min_size=1, max_size=12
    )
)
def test_media_fingerprints_match_python_reference(spark, payloads):
    """image_dhash and audio_fingerprint over REAL containers equal
    from-scratch Python fingerprints of the raw bytes — so the
    encode -> parse -> fingerprint path is checked end to end on
    arbitrary 64-byte payloads (the production-grain 16x4 image /
    64-sample clip corpus), not just the md5-derived corpus."""
    from wikistream_event_data_pipeline_aws_spark.operators.multimodal import (
        DHASH_GRID_H,
        DHASH_GRID_W,
        audio_fingerprint,
        encode_png_gray8,
        encode_wav_u8,
        image_dhash,
    )

    png_rows = [
        (i, encode_png_gray8(p, DHASH_GRID_W, DHASH_GRID_H))
        for i, p in enumerate(payloads)
    ]
    wav_rows = [(i, encode_wav_u8(p)) for i, p in enumerate(payloads)]
    schema = "media_id long, payload binary"
    got_ph = {
        r.media_id: r.phash
        for r in image_dhash(spark.createDataFrame(png_rows, schema)).collect()
    }
    got_af = {
        r.media_id: r.afp
        for r in audio_fingerprint(
            spark.createDataFrame(wav_rows, schema)
        ).collect()
    }
    for i, p in enumerate(payloads):
        assert got_ph[i] == _py_phash(p), (i, p.hex())
        assert got_af[i] == _py_afp(p), (i, p.hex())


@SLOW
@given(
    clips=st.lists(
        st.binary(min_size=16, max_size=16), min_size=1, max_size=10
    )
)
def test_video_frame_keys_match_python_reference(spark, clips):
    """video_frame_ids over real Y4M containers equals the from-scratch
    frame decomposition: n = 1 + b0 % 4 frames, frame f = bytes
    4f..4f+3 packed big-endian."""
    from wikistream_event_data_pipeline_aws_spark.operators.multimodal import (
        Y4M_H,
        Y4M_W,
        encode_y4m_mono,
        video_frame_ids,
    )

    rows = []
    for i, p in enumerate(clips):
        n = 1 + p[0] % 4
        frames = [p[4 * f : 4 * f + 4] for f in range(n)]
        rows.append((i, encode_y4m_mono(frames, Y4M_W, Y4M_H)))
    got = {
        (r.media_id, r.frame_idx): r.frame_key
        for r in video_frame_ids(
            spark.createDataFrame(rows, "media_id long, payload binary")
        ).collect()
    }
    want = {}
    for i, p in enumerate(clips):
        for f in range(1 + p[0] % 4):
            want[(i, f)] = int.from_bytes(p[4 * f : 4 * f + 4], "big")
    assert got == want


# -- round-10 dedup cores vs brute-force references -----------------------------

_doc_text = st.lists(
    st.sampled_from(["a", "b", "c", "d", "aa"]), min_size=0, max_size=14
).map(" ".join)
_corpus = st.lists(_doc_text, min_size=0, max_size=18)


def _docs_df(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(
        rows or [(0, "")], "doc_id long, text string"
    ).limit(len(rows))


def _shingle_set(text, k=3):
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


@SLOW
@given(texts=_corpus)
def test_containment_prune_is_lossless(spark, texts):
    """The integer upper-bound prune must be INVISIBLE: the pipeline's
    output equals a brute-force reference that scores every
    rare-shingle-co-occurring pair with no prune at all. The tiny
    5-word vocabulary drives shingles hot (df > CONTAIN_DF_MAX) as the
    corpus grows, exercising both the df cut and the hot-count bound."""
    from collections import Counter

    from wikistream_event_data_pipeline_aws_spark.plans.dedup import (
        CONTAIN_DF_MAX,
        CONTAIN_TAU,
        _containment_pairs,
    )

    got = {
        (r.id_a, r.id_b): (r.n_shared, r.n_a, r.n_b)
        for r in _containment_pairs(_docs_df(spark, texts)).collect()
    }
    sets = {i: _shingle_set(t) for i, t in enumerate(texts)}
    df = Counter(s for ss in sets.values() for s in ss)
    want = {}
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            shared_rare = {
                s for s in sets[a] & sets[b] if df[s] <= CONTAIN_DF_MAX
            }
            if not shared_rare:
                continue  # never a candidate
            n_shared = len(sets[a] & sets[b])
            if n_shared / min(len(sets[a]), len(sets[b])) >= CONTAIN_TAU:
                want[(a, b)] = (n_shared, len(sets[a]), len(sets[b]))
    assert got == want


@SLOW
@given(texts=_corpus)
def test_substring_spans_match_brute_force(spark, texts):
    """n_windows / n_dup_windows / longest_dup_run reproduce a pure-
    python recount with k=2 windows (small k so short random docs
    still produce windows and corpus-wide duplicates are common)."""
    from collections import Counter

    from wikistream_event_data_pipeline_aws_spark.plans.dedup import (
        _substring_spans,
    )

    k = 2
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.longest_dup_run)
        for r in _substring_spans(_docs_df(spark, texts), k=k).collect()
    }
    wins = {}
    for i, t in enumerate(texts):
        toks = t.split()
        wins[i] = [
            " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
        ]
    occ = Counter(w for ws in wins.values() for w in ws)
    want = {}
    for i, ws in wins.items():
        dup_pos = [j for j, w in enumerate(ws) if occ[w] >= 2]
        if not dup_pos:
            continue
        runs, cur = [], 1
        for prev, nxt in zip(dup_pos, dup_pos[1:]):
            if nxt == prev + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[i] = (len(ws), len(dup_pos), max(runs))
    assert got == want


@SLOW
@given(texts=_corpus)
def test_substring_rewrite_matches_brute_force(spark, texts):
    """The apply step reproduces a pure-python reference: per window
    hash, only the global-first (doc_id, pos) occurrence survives;
    every other occurrence's k-token span is elided; survivors rejoin
    in order (k=2 so short random docs still produce windows)."""
    import hashlib
    from collections import defaultdict

    from wikistream_event_data_pipeline_aws_spark.plans.dedup import (
        _substring_rewrite,
    )

    k = 2
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.rewritten_md5)
        for r in _substring_rewrite(_docs_df(spark, texts), k=k).collect()
    }
    occs = defaultdict(list)
    # mirror the engines' tokenizer convention: split(trim(''), '\s+')
    # is [''] (ONE empty token), which re.split reproduces and
    # str.split() does not
    import re

    toks = {i: re.split(r"\s+", t.strip()) for i, t in enumerate(texts)}
    for i in sorted(toks):
        for p in range(len(toks[i]) - k + 1):
            occs[" ".join(toks[i][p : p + k])].append((i, p + 1))
    covered = defaultdict(set)
    for w, lst in occs.items():
        for d, p in sorted(lst)[1:]:
            covered[d].update(range(p, p + k))
    want = {}
    for i, ts in toks.items():
        kept = [t for j, t in enumerate(ts, start=1) if j not in covered[i]]
        want[i] = (
            len(ts),
            len(ts) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    assert got == want


def test_det_ln_ratio_cross_engine_bit_identity(spark):
    """operators/detmath: ln(a/b) must be BIT-IDENTICAL between Spark
    and DuckDB (that is the module's whole claim — it exists because
    libm ln() carries no such guarantee) and within 1e-10 relative of
    the true log. Deterministic pseudo-random pairs + the adversarial
    edges: equal args (ln 1 = 0 exactly), extreme ratios at the 2^62
    validity bound, near-1 ratios where the series term dominates, and
    exact powers of two (z = 0 on one side of the reduction)."""
    import math
    import random
    import struct

    import duckdb

    from wikistream_event_data_pipeline_aws_spark.operators.detmath import (
        det_ln_ratio,
        ln_e_sql,
        ln_m_sql,
        ln_val_sql,
        ln_z_sql,
    )

    rng = random.Random(20260816)
    rows = [(rng.randrange(1, 1 << 62), rng.randrange(1, 1 << 62)) for _ in range(400)]
    rows += [
        (1, 1),
        (1, (1 << 62) - 1),
        ((1 << 62) - 1, 1),
        (1 << 40, 1 << 13),
        ((1 << 61) + 1, 1 << 61),
        (10016, 10017),
        (2, 3),
    ]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.v
        for r in df.select(
            "a", "b", det_ln_ratio(F.col("a"), F.col("b")).alias("v")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = f"""
    WITH s1 AS (SELECT a, b, {ln_e_sql('a', 'b')} AS e FROM t),
    s2 AS (SELECT *, {ln_m_sql('a', 'b', 'e')} AS m FROM s1),
    s3 AS (SELECT *, {ln_z_sql('m')} AS z FROM s2),
    s4 AS (SELECT *, z * z AS w FROM s3)
    SELECT a, b, {ln_val_sql('e', 'z', 'w')} AS v FROM s4
    """
    oracle = {(a, b): v for a, b, v in con.execute(sql).fetchall()}
    assert set(got) == set(oracle)
    for k, v in got.items():
        assert struct.pack("<d", v) == struct.pack("<d", oracle[k]), (k, v, oracle[k])
        true = math.log(k[0] / k[1])
        assert abs(v - true) <= 1e-10 * max(abs(true), 1e-9), (k, v, true)
    assert got[(1, 1)] == 0.0


def test_jaccard_pairs_shingles_is_duplicate_insensitive(spark):
    """``jaccard_pairs(shingles=...)`` scores a SET of (id, shingle)
    rows: a repeated row must not inflate n_shared / n_shingles."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import (
        exploded_shingles,
        jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "b c d e f")], "doc_id int, text string"
    )
    want = sorted(jaccard_pairs(docs, "doc_id", "text", k=3).collect())
    assert want, "the fixture must produce co-shingled pairs"
    sh = exploded_shingles(docs, "doc_id", "text", k=3).distinct()
    dup = sh.unionByName(sh.filter(F.col("doc_id") == 1))
    for shingles in (sh, dup):
        got = jaccard_pairs(docs, "doc_id", "text", k=3, shingles=shingles).collect()
        assert sorted(got) == want
