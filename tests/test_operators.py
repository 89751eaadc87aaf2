"""Direct unit tests for the beyond-reference operators (SURVEY §2.11):
known-answer MinHash/LSH behavior, as-of join edge cases, multimodal
binary plumbing (decode / resize / frame-sample shapes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators import dedup, multimodal, similarity
from etl_olho_vivo_spark.operators.asof import asof_join
from tests.media_pairs import media_near_dups
from tests.plan_walk import count_nodes, executed_plan


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content with no shared shingles here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "ab"),                                           # < 3 tokens
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark, docs):
    from etl_olho_vivo_spark.operators import textops

    fp = docs.select("doc_id", textops.fingerprint_md5().alias("fp"))
    out = dedup.exact_dedup(fp, ["fp"], "doc_id")
    groups = {r["keep_doc_id"]: r["n_dupes"] for r in out.collect()}
    assert groups[1] == 2           # docs 1 and 4 collapse, survivor = min id
    assert groups[2] == groups[3] == groups[5] == 1


def test_minhash_finds_near_dup_not_distinct(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.near_duplicates(docs, threshold=0.3).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0   # identical
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p for p in pairs)             # disjoint content
    assert not any(5 in p for p in pairs)             # unshingleable


def test_minhash_identical_docs_identical_signatures(spark, docs):
    sig = {
        r["doc_id"]: tuple(r["minhash"])
        for r in dedup.minhash_signature(docs).collect()
    }
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]
    assert 5 not in sig  # too short to shingle


def test_simhash_close_for_near_dups(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[1] == sh[4]
    assert ham(sh[1], sh[2]) <= ham(sh[1], sh[3])


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_join_edges(spark):
    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 200, "l2"), (2, 50, "l3")],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, 100, "r_at_100"), (1, 150, "r_at_150"), (3, 10, "r_other")],
        ["k", "ts", "rv"],
    )
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, on="k", ts="ts", right_cols=["rv"]
        ).collect()
    }
    assert out["l1"] == "r_at_100"   # inclusive: equal ts matches
    assert out["l2"] == "r_at_150"   # latest preceding, not first
    assert out["l3"] is None         # no right row for key 2


def test_asof_join_matches_pandas_merge_asof_property(spark):
    """Property (hypothesis): on random keyed series, asof_join equals
    pandas.merge_asof for both directions and arbitrary tolerance —
    the independent reference implementation of as-of semantics."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        lts=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 100)),
            min_size=1, max_size=15, unique=True,
        ),
        rts=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 100)),
            min_size=1, max_size=15, unique=True,
        ),
        direction=st.sampled_from(["backward", "forward"]),
        tolerance=st.one_of(st.none(), st.integers(1, 50)),
    )
    def prop(lts, rts, direction, tolerance):
        # unique (key, ts) on the right → no tiebreak ambiguity
        lpd = pd.DataFrame(lts, columns=["k", "ts"]).sort_values("ts")
        rpd = (
            pd.DataFrame(rts, columns=["k", "ts"])
            .drop_duplicates(["k", "ts"])
            .sort_values("ts")
        )
        rpd["rv"] = rpd["k"] * 1000 + rpd["ts"]
        want = pd.merge_asof(
            lpd, rpd, on="ts", by="k", direction=direction,
            tolerance=tolerance,
        )
        got = asof_join(
            spark.createDataFrame(lpd),
            spark.createDataFrame(rpd),
            on="k", ts="ts", right_cols=["rv"],
            direction=direction, tolerance=tolerance,
        ).toPandas()
        w = {(r.k, r.ts): r.rv for r in want.itertuples()}
        g = {(r.k, r.ts): r.rv for r in got.itertuples()}
        assert set(w) == set(g)
        for key in w:
            wv, gv = w[key], g[key]
            assert (pd.isna(wv) and pd.isna(gv)) or wv == gv, (key, wv, gv)

    prop()


@pytest.mark.sweep
def test_salted_agg_equals_groupby_property(spark):
    """Property (hypothesis): salted two-phase aggregation is exact for
    algebraic aggregates on arbitrarily skewed random data."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_olho_vivo_spark.operators.skew import salted_agg

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 1),            # maximally skewed key space
                st.integers(-1000, 1000),
            ),
            min_size=1, max_size=40,
        ),
        n_salts=st.sampled_from([1, 3, 16]),
    )
    def prop(rows, n_salts):
        df = spark.createDataFrame(
            [(k, v, i) for i, (k, v) in enumerate(rows)], ["k", "v", "rid"]
        )
        got = {
            r["k"]: (r["n"], r["sv"], r["mx"])
            for r in salted_agg(
                df,
                keys=["k"],
                aggs={
                    "n": ("sum", F.count(F.lit(1))),
                    "sv": ("sum", F.sum("v")),
                    "mx": ("max", F.max("v")),
                },
                n_salts=n_salts,
                salt_source="rid",
            ).collect()
        }
        want = {
            r["k"]: (r["n"], r["sv"], r["mx"])
            for r in df.groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sv"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        assert got == want

    prop()


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 160, "l2"), (1, 300, "l3")],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, 100, "r_at_100"), (1, 150, "r_at_150"), (1, 250, "r_at_250")],
        ["k", "ts", "rv"],
    )
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, on="k", ts="ts", right_cols=["rv"],
            direction="forward",
        ).collect()
    }
    assert out["l1"] == "r_at_100"   # inclusive on equal ts
    assert out["l2"] == "r_at_250"   # earliest following, not latest
    assert out["l3"] is None         # nothing after 300

    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", ts="ts", right_cols=["rv"],
                  direction="nearest")


def test_asof_join_is_row_atomic(spark):
    """A NULL value on the LATEST right row must surface as NULL — not be
    forward-filled from an older right row (per-column fill would pair an
    old value with the new row's freshness)."""
    left = spark.createDataFrame([(1, 100, "l")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, 50, "old"), (1, 90, None)], ["k", "ts", "rv"]
    )
    out = asof_join(left, right, on="k", ts="ts", right_cols=["rv"]).collect()
    assert out[0]["rv"] is None

    # and under tolerance, the old row's value must not ride the newest
    # row's timestamp past the staleness gate
    out2 = asof_join(
        left, right, on="k", ts="ts", right_cols=["rv"], tolerance=20
    ).collect()
    assert out2[0]["rv"] is None


def test_asof_join_tolerance_timestamp_ts(spark):
    """tolerance must work when ts is a TimestampType (docstring contract)
    — gap math is epoch seconds, never interval arithmetic."""
    left = spark.createDataFrame(
        [(1, 100.0, "fresh"), (1, 800.0, "stale")], ["k", "sec", "lv"]
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "lv")
    right = spark.createDataFrame([(1, 90.0, "r90")], ["k", "sec", "rv"]).select(
        "k", F.timestamp_seconds("sec").alias("ts"), "rv"
    )
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, on="k", ts="ts", right_cols=["rv"], tolerance=60
        ).collect()
    }
    assert out == {"fresh": "r90", "stale": None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 100, "fresh"), (1, 800, "stale")], ["k", "ts", "lv"]
    )
    right = spark.createDataFrame([(1, 90, "r90")], ["k", "ts", "rv"])
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(
            left, right, on="k", ts="ts", right_cols=["rv"], tolerance=60
        ).collect()
    }
    assert out["fresh"] == "r90"     # 10 apart, within tolerance
    assert out["stale"] is None      # 710 apart, nulled out


def test_asof_join_tiebreak_picks_latest(spark):
    left = spark.createDataFrame([(1, 100, "l")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, 100, 1, "first"), (1, 100, 2, "second")],
        ["k", "ts", "seq", "rv"],
    )
    out = asof_join(
        left, right, on="k", ts="ts", right_cols=["rv"], tiebreak="seq"
    ).collect()
    assert out[0]["rv"] == "second"


# ---------------------------------------------------------------------------
# skew
# ---------------------------------------------------------------------------


def test_salted_agg_equals_plain_groupby(spark):
    from etl_olho_vivo_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        ["id", "k", "v"],
    )
    got = {
        r["k"]: (r["n"], r["v_sum"], r["id_min"])
        for r in salted_agg(
            df,
            keys=["k"],
            aggs={
                "n": ("sum", F.count(F.lit(1))),
                "v_sum": ("sum", F.sum("v")),
                "id_min": ("min", F.min("id")),
            },
            salt_source="id",
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["v_sum"], r["id_min"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("v_sum"),
            F.min("id").alias("id_min"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark):
    from etl_olho_vivo_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(500)], ["id", "k"]
    )
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], ["k", "w"])
    got = sorted(
        (r["id"], r["k"], r["w"])
        for r in salted_join(
            big, dim, on=["k"], n_salts=4, salt_source="id"
        ).collect()
    )
    want = sorted(
        (r["id"], r["k"], r["w"]) for r in big.join(dim, "k").collect()
    )
    assert got == want
    # no row duplication from the dim replication
    assert len(got) == 500


def test_salted_join_left_keeps_unmatched(spark):
    from etl_olho_vivo_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"])
    dim = spark.createDataFrame([("a", 10)], ["k", "w"])
    rows = {
        r["k"]: r["w"]
        for r in salted_join(
            big, dim, on=["k"], n_salts=3, salt_source="id", how="left"
        ).collect()
    }
    assert rows == {"a": 10, "b": None}


def test_salted_agg_requires_deterministic_salt(spark):
    from etl_olho_vivo_spark.operators.skew import salted_agg

    df = spark.createDataFrame([(1, "a")], ["id", "k"])
    with pytest.raises(ValueError, match="salt_source"):
        salted_agg(df, keys=["k"], aggs={"n": ("sum", F.count(F.lit(1)))})


def test_salted_join_rejects_outer_types(spark):
    # Right/full outer would emit each unmatched replicated small-side row
    # once per salt — the rewrite is only exact for inner/left flavors.
    from etl_olho_vivo_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a")], ["id", "k"])
    dim = spark.createDataFrame([("a", 10), ("z", 99)], ["k", "w"])
    for how in ("right", "full", "outer", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="only exact"):
            salted_join(big, dim, on=["k"], n_salts=3, salt_source="id", how=how)


def test_chunk_docs_windows(spark):
    from etl_olho_vivo_spark.operators.textops import chunk_docs

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        ["doc_id", "text"],
    )
    out = chunk_docs(df, max_tokens=4, overlap=1)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    }
    # 10 tokens, window 4, step 3 → chunks at 0/3/6, all full width
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t3 t4 t5 t6", 4)   # 1-token overlap
    assert rows[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in rows
    # short doc yields itself as chunk 0
    assert rows[(2, 0)] == ("a b", 2)
    with pytest.raises(ValueError, match="overlap"):
        chunk_docs(df, max_tokens=4, overlap=4)


def test_pack_chunks_sequential_fill(spark):
    from etl_olho_vivo_spark.operators.textops import pack_chunks

    rows = [
        # (doc_id, chunk_id, chunk_text, n_tokens) in one shard
        (1, 0, "a a a", 3),
        (1, 1, "b b b", 3),
        (2, 0, "c c c c", 4),   # starts at offset 6 → pack 0 (overflows)
        (3, 0, "d d", 2),       # starts at offset 10 → pack 1
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "chunk_id", "chunk_text", "n_tokens"]
    ).withColumn("shard", F.lit("s0"))
    out = {
        r["pack_id"]: (r["seq_text"], r["n_chunks"], r["n_tokens"])
        for r in pack_chunks(df, budget=8, shard_col="shard").collect()
    }
    # pack 0: chunks starting at offsets 0, 3, 6 — overflow ≤ max_chunk−1
    assert out[0] == ("a a a b b b c c c c", 3, 10)
    assert out[1] == ("d d", 1, 2)
    # deterministic order inside the pack regardless of input order
    shuffled = df.orderBy(F.desc("doc_id"))
    out2 = {
        r["pack_id"]: r["seq_text"]
        for r in pack_chunks(shuffled, budget=8, shard_col="shard").collect()
    }
    assert out2[0] == out[0][0]


def test_chunk_docs_reconstruction_property(spark):
    """Property (hypothesis): for any doc length / window / overlap,
    dropping each chunk's leading `overlap` tokens (except chunk 0) and
    concatenating reconstructs the document exactly — no token lost, none
    duplicated."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from etl_olho_vivo_spark.operators.textops import chunk_docs

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n=st.integers(min_value=1, max_value=40),
        max_tokens=st.integers(min_value=2, max_value=12),
        overlap=st.integers(min_value=0, max_value=11),
    )
    def prop(n, max_tokens, overlap):
        if overlap >= max_tokens:
            return
        text = " ".join(f"w{i}" for i in range(n))
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        chunks = sorted(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
            for r in chunk_docs(df, max_tokens, overlap).collect()
        )
        assert all(sz <= max_tokens for _, _, sz in chunks)
        rebuilt: list[str] = []
        for cid, ctext, _sz in chunks:
            toks = ctext.split(" ")
            rebuilt += toks if cid == 0 else toks[overlap:]
        assert rebuilt == text.split(" ")

    prop()


def test_redact_pii(spark):
    from etl_olho_vivo_spark.operators.textops import redact

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or visit https://a.io/c@d.e today"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "clean text with no pii at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["red"] for r in df.select("doc_id", redact().alias("red")).collect()}
    assert got[1] == "contact <EMAIL> or visit <URL> today"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "clean text with no pii at all"


def test_connected_components_chains_and_islands(spark):
    from etl_olho_vivo_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["doc_a", "doc_b"],
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


@pytest.mark.parametrize("n_pairs,max_jobs", [(0, 7), (3, 20)])
def test_components_resolution_job_cost(spark, n_pairs, max_jobs):
    """The components resolution of a 40-doc MinHash batch, pairing
    included, counted in Spark jobs.  The bounds hold only while the
    pair plan runs once, into one persisted symmetric edge frame that
    the node set and every round read, and an empty graph stops at
    that frame's probe without a propagation round."""
    import random

    from etl_olho_vivo_spark.caching import CacheBag

    rng = random.Random(0)
    texts = [
        " ".join(f"w{rng.randrange(2000)}" for _ in range(30))
        for _ in range(40)
    ]
    for i in range(n_pairs):
        texts[20 + i] = texts[i]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sc = spark.sparkContext
    group = f"components-job-cost-{n_pairs}"
    with CacheBag() as bag:
        sig = bag.add(
            dedup.minhash_signature(df).select("doc_id", "sh", "minhash")
        )
        sig.count()
        sc.setJobGroup(group, "components resolution")
        try:
            drops = dedup.resolve_drops(
                dedup.near_duplicates(sig=sig), "components", caches=bag
            )
            got = sorted(r["doc_id"] for r in drops.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == list(range(20, 20 + n_pairs))
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= max_jobs, jobs


def test_connected_components_plan_does_not_grow_with_rounds(spark):
    """Each round's labels start from one leaf: a 12-node chain (11
    propagating rounds) yields the same result plan as a 3-node chain.
    Nesting every round's cache under the next grew the plan text per
    round until ``explainString`` ran the driver out of memory at 10k
    documents."""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators.dedup import connected_components

    plans = []
    with CacheBag() as bag:
        for n in (3, 12):
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"]
            )
            comps = connected_components(pairs, caches=bag)
            comp = {r["doc_id"]: r["component"] for r in comps.collect()}
            assert comp == {i: 1 for i in range(1, n + 1)}
            plans.append(count_nodes(executed_plan(comps), into_cache=True))
    assert plans[0] == plans[1], plans


def test_connected_components_vs_edge_greedy(spark):
    """Pairs (2,3) and (1,3): edge-greedy drops only doc 3 (the doc_b of
    both pairs), keeping 1 AND 2 even though they are transitively near;
    components puts all three in one cluster with survivor 1."""
    from etl_olho_vivo_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(2, 3), (1, 3)], ["doc_a", "doc_b"])
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1}
    greedy_drops = {r["doc_b"] for r in pairs.select("doc_b").collect()}
    assert greedy_drops == {3}          # greedy keeps 2 — the blind spot
    cc_drops = {d for d, c in comp.items() if d != c}
    assert cc_drops == {2, 3}


def test_simhash_near_dups_banded(spark, docs):
    """Identical docs pair at hamming 0; a disjoint doc never survives the
    exact verify; invalid band configs are rejected loudly."""
    from etl_olho_vivo_spark.operators.dedup import simhash_near_dups

    hits = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=3).collect()
    }
    assert hits[(1, 4)] == 0                      # exact dup → hamming 0
    assert all(3 not in p for p in hits)          # disjoint content excluded
    assert all(h <= 3 for h in hits.values())

    with pytest.raises(ValueError, match="n_bands"):
        simhash_near_dups(docs, max_hamming=4, n_bands=4)


def test_incremental_near_dup_against_store(spark, docs, tmp_path):
    """New-batch dedup against a persisted signature store: only the new
    batch is hashed; known near-dup must surface, disjoint docs must not."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signature,
    )

    store_path = str(tmp_path / "sigstore")
    append_store.write_batch(
        minhash_signature(docs).select("doc_id", "sh", "minhash"),
        store_path, 0,
    )
    store = append_store.read_store(spark, store_path).select(
        "doc_id", "sh", "minhash"
    )
    # store skips un-shingleable docs (< 3 tokens), keeps the rest
    assert sorted(r["doc_id"] for r in store.select("doc_id").collect()) == [
        1, 2, 3, 4,
    ]

    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # = doc 1/4
            (101, "utterly unrelated text about spark and parquet files"),
        ],
        ["doc_id", "text"],
    )
    hits = incremental_near_duplicates(new, store, threshold=0.5)
    got = {(r["doc_new"], r["doc_old"]) for r in hits.collect()}
    assert (100, 1) in got and (100, 4) in got
    assert all(dn != 101 for dn, _ in got)


# ---------------------------------------------------------------------------
# similarity: k-means|| IVF seeding
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def embeddings(spark):
    from etl_olho_vivo_spark.sources.tables import read_table

    return read_table(spark, "/root/testdata/sf0.001", "embeddings")


def _sse(spark, emb, centroids):
    from etl_olho_vivo_spark.operators.similarity import ivf_assign, _l2sq_int

    assigned = ivf_assign(emb, centroids=centroids)
    cents = centroids.withColumnRenamed("cell_id", "c2")
    return (
        assigned.join(F.broadcast(cents), F.col("cell_id") == F.col("c2"))
        .select(F.expr(_l2sq_int("qv", "qc")).alias("d2"))
        .agg(F.sum("d2"))
        .collect()[0][0]
    )


def test_kmeans_centroids_deterministic(spark, embeddings):
    from etl_olho_vivo_spark.operators.similarity import kmeans_centroids

    a = kmeans_centroids(embeddings, n_cells=4, rounds=2)
    b = kmeans_centroids(embeddings, n_cells=4, rounds=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_assignment_partitions_all_vectors(spark, embeddings):
    from etl_olho_vivo_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    cents = kmeans_centroids(embeddings, n_cells=4, rounds=2)
    assigned = ivf_assign(embeddings, centroids=cents)
    n = embeddings.count()
    assert assigned.count() == n                       # every vector, once
    assert assigned.select("vec_id").distinct().count() == n
    n_cells_used = assigned.select("cell_id").distinct().count()
    assert 1 < n_cells_used <= 4                       # real spread


def test_ivf_multiprobe_recall(spark, embeddings):
    """n_probe is the recall dial: probing every cell must equal exact
    integer-dot search; a 1-probe result is a subset of the same ranking."""
    from etl_olho_vivo_spark.operators.similarity import (
        _dot_int,
        _quantize,
        ivf_topk,
    )

    n_cells, k = 4, 10
    full = ivf_topk(
        embeddings, query_vec_id=0, k=k, n_cells=n_cells, n_probe=n_cells
    )
    # exact baseline: integer dot against every other vector
    qv = embeddings.filter(F.col("vec_id") == 0).select(
        F.expr(_quantize("embedding")).alias("q_qv")
    )
    exact = (
        embeddings.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.expr(
                _dot_int(_quantize("embedding"), "q_qv")
            ).alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), "vec_id")
        .limit(k)
    )
    assert [
        (r["vec_id"], r["dot_q"]) for r in full.collect()
    ] == [(r["vec_id"], r["dot_q"]) for r in exact.collect()]

    one = ivf_topk(embeddings, query_vec_id=0, k=k, n_cells=n_cells, n_probe=1)
    one_rows = one.collect()
    assert 0 < len(one_rows) <= k
    # 1-probe scans exactly one cell, and its candidates can never beat
    # the exact winner
    assert len({r["cell_id"] for r in one_rows}) == 1
    best_exact = exact.collect()[0]["dot_q"]
    assert all(r["dot_q"] <= best_exact for r in one_rows)


@pytest.mark.sweep
def test_kmeans_beats_naive_seeding(spark, embeddings):
    """The refined quantizer should cluster at least as tightly as the
    demo first-n seeding (that is its entire reason to exist)."""
    from etl_olho_vivo_spark.operators.similarity import (
        _quantize,
        kmeans_centroids,
    )

    naive = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"),
        F.expr(_quantize("embedding")).alias("qc"),
    )
    kpp = kmeans_centroids(embeddings, n_cells=4, rounds=2, refine_iters=2)
    assert _sse(spark, embeddings, kpp) < _sse(spark, embeddings, naive)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [(1, "abcdefgh" * 10), (2, "xy"), (3, "")]
    return multimodal.attach_media(
        spark.createDataFrame(rows, ["doc_id", "text"])
    )


def test_attach_media_types(media_df):
    dt = dict(media_df.dtypes)
    assert dt["media"] == "binary"
    assert dt["media_meta"].startswith("struct<media_type:string")
    metas = {r["doc_id"]: r["media_meta"] for r in media_df.collect()}
    assert metas[1]["n_bytes"] == 80 and metas[3]["n_bytes"] == 0


def test_decode_media_batch(media_df):
    out = {r["doc_id"]: r for r in multimodal.decode_media(media_df).collect()}
    assert out[1]["n_bytes"] == 80
    assert out[1]["checksum"] == sum(b"abcdefgh" * 10)
    assert out[3]["n_bytes"] == 0 and out[3]["checksum"] == 0


# ---------------------------------------------------------------------------
# round 3: cache lifecycle, string-id components, store round-trip, ANN recall
# ---------------------------------------------------------------------------


@pytest.mark.sweep
def test_connected_components_string_ids_multihop(spark):
    """String doc_ids through a 4-node chain: the fixpoint detector must
    see labels still moving in round 2+ (a numeric-checksum detector gets
    NULL == NULL after one round and silently under-merges)."""
    from etl_olho_vivo_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        ["doc_a", "doc_b"],
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def _cached_ids(spark) -> set:
    """Ids of currently-persisted RDDs.  Id-set algebra (not counts) keeps
    these tests immune to the async ContextCleaner collecting earlier
    tests' localCheckpoint RDDs mid-run."""
    return {
        int(str(k))
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_cache_bag_releases_operator_caches(spark, docs):
    """near_duplicates/incremental_near_duplicates persist their signature
    frames into a caller-owned CacheBag; release() drops every entry.

    The input plans are offset to be unique to this test: Spark's
    CacheManager is canonical-plan keyed, so persisting a plan an earlier
    test already session-cached creates NO new entry ("Asked to cache
    already cached data") and the new-id assertion would see nothing.
    """
    from etl_olho_vivo_spark.caching import CacheBag

    uniq = docs.withColumn("doc_id", F.col("doc_id") + 31_000)
    base = _cached_ids(spark)
    with CacheBag() as bag:
        pairs = dedup.near_duplicates(uniq, threshold=0.5, caches=bag)
        pairs.collect()
        assert len(_cached_ids(spark) - base) == 1
    assert _cached_ids(spark) - base == set()

    bag = CacheBag()
    store = dedup.minhash_signature(uniq).select("doc_id", "sh", "minhash")
    hits = dedup.incremental_near_duplicates(
        new_docs=docs.withColumn("doc_id", F.col("doc_id") + 32_000),
        store=store,
        threshold=0.5,
        caches=bag,
    )
    hits.collect()
    assert len(_cached_ids(spark) - base) == 1
    bag.release()
    assert _cached_ids(spark) - base == set()
    bag.release()  # idempotent
    assert _cached_ids(spark) - base == set()


@pytest.mark.sweep
def test_session_bag_releases_registry_query_caches(spark):
    """The pair queries cache intermediates via SESSION_BAG; repeated
    invocation must not grow the cache (CacheManager canonical-plan dedup)
    and release_session_caches() must drop back to the baseline."""
    from etl_olho_vivo_spark import registry
    from etl_olho_vivo_spark.caching import release_session_caches

    registry.queries()
    sf = "/root/testdata/sf0.001"
    release_session_caches()
    base = _cached_ids(spark)
    for name in ("ngram_jaccard_pairs", "embedding_near_dup_pairs",
                 "minhash_near_dups"):
        registry.REGISTRY[name].fn(spark, sf).collect()
    grown = _cached_ids(spark)
    ours = grown - base
    assert len(ours) >= 3
    # second invocation: same canonical plans -> no additional entries
    for name in ("ngram_jaccard_pairs", "minhash_near_dups"):
        registry.REGISTRY[name].fn(spark, sf).collect()
    assert _cached_ids(spark) - grown == set()
    release_session_caches()
    assert _cached_ids(spark) & ours == set()


@pytest.mark.sweep
def test_incremental_matches_parquet_store_roundtrip(spark, tmp_path):
    """The driver-checked minhash_near_dups row feeds an IN-MEMORY store
    slice to incremental_near_duplicates; the production loop reads the
    store back from its append store's parquet.  Both must yield
    identical pairs — this pins the equivalence the registry docstring
    claims."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signature,
    )
    from etl_olho_vivo_spark.sources.tables import read_table

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    batch_docs = d.filter(F.col("doc_id") % 2 == 1)

    mem_store = minhash_signature(store_docs).select("doc_id", "sh", "minhash")
    mem = incremental_near_duplicates(
        new_docs=batch_docs, store=mem_store, threshold=0.5, persist=False
    )
    mem_pairs = {(r["doc_new"], r["doc_old"], r["jaccard"]) for r in mem.collect()}

    path = str(tmp_path / "sigstore")
    append_store.write_batch(mem_store, path, 0)
    pq = incremental_near_duplicates(
        new_docs=batch_docs,
        store=append_store.read_store(spark, path).select(
            "doc_id", "sh", "minhash"
        ),
        threshold=0.5,
        persist=False,
    )
    pq_pairs = {(r["doc_new"], r["doc_old"], r["jaccard"]) for r in pq.collect()}
    assert mem_pairs == pq_pairs and len(mem_pairs) > 0


@pytest.mark.sweep
def test_ivf_kmeans_recall_and_determinism(spark):
    """The production ANN composition: kmeans||-seeded centroids +
    multi-probe search.  Pins (a) centroid determinism across runs,
    (b) recall@10 vs brute-force cosine at a fixed floor, (c) the
    n_probe dial actually buying recall on average."""
    from etl_olho_vivo_spark.operators import similarity
    from etl_olho_vivo_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.kmeans_centroids(emb, n_cells=8)
    again = similarity.kmeans_centroids(emb, n_cells=8)
    as_set = lambda c: sorted((r["cell_id"], tuple(r["qc"])) for r in c.collect())
    assert as_set(cents) == as_set(again)

    cents = cents.cache()
    try:
        r1_tot = r2_tot = 0.0
        qids = [0, 7, 23, 101, 250]
        for qid in qids:
            exact = {
                r["vec_id"]
                for r in similarity.cosine_topk(emb, qid, k=10).collect()
            }
            by_probe = {}
            for np_ in (1, 2):
                ann = {
                    r["vec_id"]
                    for r in similarity.ivf_topk(
                        emb, qid, k=10, n_cells=8, n_probe=np_, centroids=cents
                    ).collect()
                }
                by_probe[np_] = len(exact & ann) / 10
            r1_tot += by_probe[1]
            r2_tot += by_probe[2]
        # measured on this (deterministic) data: 0.46 @ n_probe=1,
        # 0.62 @ n_probe=2 — floors set with margin, not at the obs value
        assert r2_tot / len(qids) >= 0.5
        assert r2_tot >= r1_tot
    finally:
        cents.unpersist()


@pytest.mark.sweep
def test_kmeans_seeded_ivf_matches_duckdb_oracle(spark, embeddings):
    """Cross-engine exactness of the IVF machinery under PRODUCTION
    (kmeans||) centroids, not just the demo first-n seeding the static
    registry oracle replicates.  The registry's ``oracle_sql`` strings
    cannot carry data-dependent centroids (and the driver's Spark/oracle
    run order is unspecified, so a side-written parquet would race), so
    this pins the same property with a dynamic oracle: the quantized
    kmeans centroids are inlined into DuckDB as a VALUES literal and the
    full assignment → multi-probe → integer-dot top-k must agree
    row-for-row with ``ivf_topk(centroids=...)``."""
    import duckdb

    from etl_olho_vivo_spark.operators.similarity import (
        duck_quantize_expr,
        ivf_topk,
        kmeans_centroids,
    )

    n_cells, n_probe, k, q_id = 4, 2, 10, 0
    cents = kmeans_centroids(embeddings, n_cells=n_cells, rounds=2)
    got = ivf_topk(
        embeddings, query_vec_id=q_id, k=k, n_cells=n_cells,
        n_probe=n_probe, centroids=cents,
    ).collect()

    values = ", ".join(
        f"({r['cell_id']}, CAST({list(r['qc'])} AS BIGINT[]))"
        for r in cents.collect()
    )
    l2 = (
        "CAST(list_sum(list_transform(range(0, len({a})), "
        "i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1]))) AS BIGINT)"
    )
    sql = f"""
WITH v AS (
  SELECT vec_id, label, {duck_quantize_expr('embedding')} AS qv
  FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet')
),
c (cell_id, qc) AS (VALUES {values}),
d AS (
  SELECT v.vec_id, v.label, v.qv, c.cell_id,
         {l2.format(a='v.qv', b='c.qc')} AS dist
  FROM v, c
),
a AS (
  SELECT vec_id, label, qv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell_id) AS rn FROM d
  ) WHERE rn = 1
),
q AS (SELECT qv AS q_qv FROM v WHERE vec_id = {q_id}),
pd AS (
  SELECT c.cell_id, q.q_qv, {l2.format(a='c.qc', b='q.q_qv')} AS cd
  FROM c, q
),
probe AS (
  SELECT cell_id AS q_cell, q_qv FROM (
    SELECT *, row_number() OVER (ORDER BY cd, cell_id) AS rn FROM pd
  ) WHERE rn <= {n_probe}
)
SELECT a.vec_id, a.label, a.cell_id,
       CAST(list_sum(list_transform(range(0, len(a.qv)),
         i -> a.qv[i+1] * p.q_qv[i+1])) AS BIGINT) AS dot_q
FROM a JOIN probe p ON a.cell_id = p.q_cell
WHERE a.vec_id <> {q_id}
ORDER BY dot_q DESC, a.vec_id
LIMIT {k}
"""
    want = duckdb.sql(sql).fetchall()
    assert [
        (r["vec_id"], r["label"], r["cell_id"], r["dot_q"]) for r in got
    ] == [tuple(r) for r in want]


@pytest.mark.sweep
def test_concurrent_queries_shared_session(spark):
    """Two cache-registering queries run CONCURRENTLY on the shared
    session (Thriftserver-style multi-tenancy) must produce exactly
    their serial results.  Pins that the engine's shared state
    (SESSION_BAG, CacheManager entries) degrades at worst to a
    recompute — never to wrong rows — under interleaved scheduling."""
    import concurrent.futures

    from etl_olho_vivo_spark import registry
    from etl_olho_vivo_spark.caching import release_session_caches

    registry.queries()
    sf = "/root/testdata/sf0.001"
    names = ["minhash_near_dups", "ngram_jaccard_pairs"]

    def run(name):
        df = registry.REGISTRY[name].fn(spark, sf)
        return sorted(map(tuple, df.collect()))

    serial = {}
    for n in names:
        serial[n] = run(n)
        release_session_caches()

    with concurrent.futures.ThreadPoolExecutor(2) as pool:
        futs = {n: pool.submit(run, n) for n in names}
        concurrent = {n: f.result(timeout=300) for n, f in futs.items()}
    release_session_caches()

    for n in names:
        assert concurrent[n] == serial[n], n


def test_asof_rejects_colliding_right_cols(spark):
    from etl_olho_vivo_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 5.0)], "k long, t long, v double")
    right = spark.createDataFrame([(1, 9, 7.0)], "k long, t long, v double")
    import pytest

    with pytest.raises(ValueError, match="already exist"):
        asof_join(left, right, on="k", ts="t", right_cols=["v"])


def test_asof_ignores_null_right_ts(spark):
    """A right row with NULL ts must never match (it has no place on the
    time axis) — previously it ranked 'older than everything' and leaked
    into no-tolerance backward matches."""
    from etl_olho_vivo_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, None, 99.0)], "k long, t long, price double"
    )
    out = asof_join(left, right, on="k", ts="t", right_cols=["price"])
    assert [r["price"] for r in out.collect()] == [None]


def test_similarity_rejects_missing_query_id(spark, embeddings):
    from etl_olho_vivo_spark.operators.similarity import cosine_topk, ivf_topk

    import pytest

    with pytest.raises(ValueError, match="not in embeddings"):
        cosine_topk(embeddings, query_vec_id=10**9)
    with pytest.raises(ValueError, match="not in embeddings"):
        ivf_topk(embeddings, query_vec_id=10**9)


@pytest.mark.sweep
def test_kmeans_keeps_n_cells_across_refines(spark, embeddings):
    """Empty clusters keep their previous centroid — the centroid count
    never silently shrinks below n_cells at any refine depth."""
    from etl_olho_vivo_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(
        embeddings, n_cells=4, rounds=2, refine_iters=3
    )
    assert cents.count() == 4


def test_ivf_topk_precomputed_assignment_identical(spark, embeddings):
    """The serving path (index built once at ingest) returns exactly the
    demo path's answer.  Production shape: the SAME centroid frame feeds
    both the assignment and the query's probe-cell selection."""
    from etl_olho_vivo_spark.operators.similarity import (
        _default_centroids,
        ivf_assign,
        ivf_topk,
    )

    demo = ivf_topk(embeddings, query_vec_id=0, k=5, n_probe=2).collect()
    cents = _default_centroids(embeddings, 8).persist()
    assigned = ivf_assign(embeddings, centroids=cents).persist()
    try:
        served = ivf_topk(
            embeddings, query_vec_id=0, k=5, n_probe=2,
            centroids=cents, assigned=assigned,
        ).collect()
    finally:
        assigned.unpersist()
        cents.unpersist()
    assert [tuple(r) for r in served] == [tuple(r) for r in demo]


def test_ivf_topk_assigned_without_centroids_rejected(spark, embeddings):
    """Passing an assignment without its centroid frame would silently
    desynchronize probe-cell selection — must raise, not mis-probe."""
    import pytest

    from etl_olho_vivo_spark.operators.similarity import ivf_assign, ivf_topk

    assigned = ivf_assign(embeddings, n_cells=8)
    with pytest.raises(ValueError, match="same `centroids`"):
        ivf_topk(embeddings, query_vec_id=0, k=5, assigned=assigned)


def test_quality_features_empty_doc_no_crash(spark):
    """Empty/whitespace docs: NULL quality score (drops at any gate),
    never an ANSI DIVIDE_BY_ZERO that aborts the corpus job."""
    from etl_olho_vivo_spark.operators import textops

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "real text")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r["quality_score"]
           for r in textops.quality_features(df).collect()}
    assert out[1] is None and out[3] is not None


def test_regex_token_count_backslash_and_quote_patterns(spark):
    """Patterns survive verbatim (Column API, not f-string SQL): the old
    SQL-literal interpolation folded backslash classes silently."""
    from etl_olho_vivo_spark.operators import textops

    df = spark.createDataFrame([("1 22 333 d dd",)], "text string")
    n_digits = df.select(
        textops.regex_token_count("text", r"\d+").alias("n")
    ).first()["n"]
    assert n_digits == 3  # the old interpolation counted 'd+' runs -> 2
    n_quote = df.select(
        textops.regex_token_count("text", "[d']+").alias("n")
    ).first()["n"]
    assert n_quote == 2


def test_pack_chunks_rejects_nonpositive_budget(spark):
    from etl_olho_vivo_spark.operators import textops

    df = spark.createDataFrame(
        [(1, 0, "a", 3, "src")],
        "doc_id long, chunk_id long, chunk_text string, n_tokens long, "
        "source string",
    )
    import pytest

    for bad in (0, -5):
        with pytest.raises(ValueError, match="budget"):
            textops.pack_chunks(df, budget=bad, shard_col="source")


def test_multimodal_null_media_no_crash(spark):
    """NULL media (null text upstream) flows through decode as NULL
    features — one bad document must not abort the whole Arrow job."""
    from etl_olho_vivo_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdef" * 10)), (2, None)],
        "doc_id long, media binary",
    )
    dec = {r["doc_id"]: r["n_bytes"]
           for r in multimodal.decode_media(df).collect()}
    assert dec[1] == 60 and dec[2] is None


def test_profile_edge_cases(spark):
    """Empty table profiles with n_nulls=0 (not NULL); case-insensitive
    duplicate names fail with the curated error, not AMBIGUOUS_REFERENCE."""
    from etl_olho_vivo_spark.functions.profile import profile_table

    empty = spark.createDataFrame([], "id int, s string")
    rows = profile_table(empty).collect()
    assert all(r["n_nulls"] == 0 and r["n_rows"] == 0 for r in rows)

    import pytest

    dup = spark.createDataFrame([(1, 2)], "k int, K int")
    with pytest.raises(ValueError, match="case-insensitive"):
        profile_table(dup)


def test_interval_label_pre_1970(spark):
    """Negative epochs wrap like the reference's utcfromtimestamp clock
    (pmod), never emit garbage '-1:00--1:-3' labels."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.functions.timeops import interval_30min_label

    df = spark.createDataFrame([(-3600,), (-1,)], "t long")
    got = [r[0] for r in df.select(interval_30min_label(F.col("t"))).collect()]
    assert got == ["23:00-23:30", "23:30-00:00"]


def _make_bmp(width, height, pixel):
    """Minimal 24-bit uncompressed BMP with every pixel = ``pixel``
    (b, g, r) — the deterministic fixture whose header/mean the decode
    must reproduce."""
    row = ((width * 3 + 3) // 4) * 4
    data_size = row * height
    header = (
        b"BM"
        + (54 + data_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")       # pixel data offset
        + (40).to_bytes(4, "little")       # BITMAPINFOHEADER
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")        # planes
        + (24).to_bytes(2, "little")       # bpp
        + (0).to_bytes(4, "little")        # BI_RGB (uncompressed)
        + data_size.to_bytes(4, "little")
        + b"\x00" * 16
    )
    assert len(header) == 54
    rowbytes = bytes(pixel) * width + b"\xff" * (row - width * 3)
    return header + rowbytes * height


def _make_p6(width, height, rgb, comment=False):
    hdr = b"P6\n"
    if comment:
        hdr += b"# fixture comment\n"
    hdr += f"{width} {height}\n255\n".encode()
    return hdr + bytes(rgb) * (width * height)


def test_decode_media_real_bmp_and_pnm(spark):
    """The round-9 real codec: generated BMP/P6 fixtures with KNOWN
    width/height/mean must decode exactly — including BMP row padding
    exclusion (padding bytes are 0xff here precisely so including them
    would shift the mean) — while malformed/unknown bytes keep the
    deterministic opaque fallback."""
    bmp = _make_bmp(3, 2, (10, 20, 30))       # row pad = 3 bytes of 0xff
    p6 = _make_p6(4, 3, (100, 150, 200))
    p6c = _make_p6(2, 2, (0, 0, 255), comment=True)
    p5 = b"P5\n2 2\n255\n" + bytes([7, 9, 11, 13])
    truncated_bmp = bmp[:30]                  # header cut mid-dims
    rows = [
        (1, bytearray(bmp)),
        (2, bytearray(p6)),
        (3, bytearray(p6c)),
        (4, bytearray(p5)),
        (5, bytearray(truncated_bmp)),
        (6, bytearray(b"plain old text")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}

    assert (out[1]["media_kind"], out[1]["width"], out[1]["height"]) == (
        "bmp", 3, 2,
    )
    assert out[1]["mean_pixel"] == 20.0       # (10+20+30)/3, pad excluded
    assert out[1]["n_bytes"] == len(bmp)

    assert (out[2]["media_kind"], out[2]["width"], out[2]["height"]) == (
        "pnm", 4, 3,
    )
    assert out[2]["mean_pixel"] == 150.0
    assert (out[3]["media_kind"], out[3]["width"], out[3]["height"]) == (
        "pnm", 2, 2,
    )
    assert out[3]["mean_pixel"] == round(255 / 3, 4)
    assert (out[4]["media_kind"], out[4]["width"], out[4]["height"]) == (
        "pnm", 2, 2,
    )
    assert out[4]["mean_pixel"] == 10.0

    # malformed real-format header → opaque fallback, never a crash
    for doc in (5, 6):
        r = out[doc]
        assert r["media_kind"] == "opaque"
        assert r["width"] == r["checksum"] % 640
        assert r["height"] == r["checksum"] % 480
        assert r["mean_pixel"] is None


def test_media_parser_is_shipped_by_value():
    """The parser factory returns a plain nested function — the form
    cloudpickle serializes by value, keeping the mapInPandas closure
    self-contained (workers lack this package on sys.path)."""
    import pickle

    import cloudpickle

    parse = multimodal._media_parser()
    blob = cloudpickle.dumps(parse)
    clone = pickle.loads(blob)
    bmp = _make_bmp(2, 1, (1, 2, 3))
    assert clone(bmp) == parse(bmp)
    assert clone(None) == (None,) * 6


def test_decode_media_text_starting_with_bm_stays_opaque(spark):
    """A plain-text document that happens to begin with 'BM' must NOT be
    classified as a bitmap: the exact-header-size / planes==1 / legal-bpp
    plausibility gates reject ASCII bytes, so the row keeps the opaque
    checksum-derived semantics the registry oracle recomputes."""
    texts = [
        b"BMW dealership on the corner sells many fine cars and motorbikes "
        b"to enthusiastic customers every single day of the week",
        b"BM" + bytes(range(52)) * 3,  # binary junk with the magic
    ]
    rows = [(i, bytearray(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    for r in multimodal.decode_media(df).collect():
        assert r["media_kind"] == "opaque"
        assert r["width"] == r["checksum"] % 640
        assert r["height"] == r["checksum"] % 480
        assert r["mean_pixel"] is None


def _make_wav(n_channels, sampwidth, framerate, frames):
    """Generate PCM WAV bytes with the stdlib ``wave`` module — an
    independent encoder, so the hand-written RIFF walker in
    ``_audio_parser`` is tested against bytes it did not produce."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(framerate)
        w.writeframes(frames)
    return buf.getvalue()


def test_decode_audio_real_wav(spark):
    """RIFF/WAVE PCM decode against stdlib-wave-encoded fixtures with
    KNOWN samples: channels / rate / bit depth / frame count / duration
    come from the fmt chunk, mean |amplitude| from the data payload
    (16-bit signed LE, 8-bit unsigned-around-128)."""
    import struct

    stereo16 = _make_wav(
        2, 2, 8000, struct.pack("<4h", 1000, -2000, 3000, -4000)
    )
    mono8 = _make_wav(1, 1, 16000, bytes([128, 138, 118, 128]))
    rows = [(1, bytearray(stereo16)), (2, bytearray(mono8))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in multimodal.decode_audio(df).collect()}

    r = out[1]
    assert (r["media_kind"], r["n_channels"], r["sample_rate"]) == (
        "wav", 2, 8000,
    )
    assert (r["bits_per_sample"], r["n_frames"]) == (16, 2)
    assert r["duration_s"] == round(2 / 8000, 6)
    assert r["mean_abs_amplitude"] == round(2500 / 32768, 6)
    assert r["n_bytes"] == len(stereo16)

    r = out[2]
    assert (r["media_kind"], r["n_channels"], r["sample_rate"]) == (
        "wav", 1, 16000,
    )
    assert (r["bits_per_sample"], r["n_frames"]) == (8, 4)
    assert r["duration_s"] == round(4 / 16000, 6)
    assert r["mean_abs_amplitude"] == round(5 / 128, 6)


def test_decode_audio_chunk_walk_and_fallbacks(spark):
    """The chunk walker must skip a LIST chunk (odd-size, so the
    word-alignment padding is exercised) before fmt/data, and every
    non-decodable stream — RIFF-but-not-WAVE, truncated data chunk,
    float PCM (format 3), plain text, NULL — degrades to opaque/NULLs
    instead of crashing the executor."""
    import struct

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = bytes([128, 228, 28])
    body = chunk(b"LIST", b"INFOx") + chunk(b"fmt ", fmt) + chunk(b"data", data)
    wav_with_list = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    fmt_float = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body_f = chunk(b"fmt ", fmt_float) + chunk(b"data", b"\x00" * 8)
    wav_float = b"RIFF" + struct.pack("<I", 4 + len(body_f)) + b"WAVE" + body_f

    good = _make_wav(1, 1, 8000, bytes([128] * 4))
    truncated = good[: len(good) - 2]  # data chunk shorter than its size
    rows = [
        (1, bytearray(wav_with_list)),
        (2, bytearray(wav_float)),
        (3, bytearray(truncated)),
        (4, bytearray(b"RIFFmisc" + b"JUNK" * 12)),
        (5, bytearray(b"plain old text document")),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r["doc_id"]: r for r in multimodal.decode_audio(df).collect()}

    r = out[1]
    assert (r["media_kind"], r["n_channels"], r["n_frames"]) == ("wav", 1, 3)
    assert r["mean_abs_amplitude"] == round((0 + 100 + 100) / 3 / 128, 6)
    for doc in (2, 3, 4, 5):
        r = out[doc]
        assert r["media_kind"] == "opaque"
        assert r["n_channels"] is None
        assert r["mean_abs_amplitude"] is None
        assert r["n_bytes"] == len(bytes(rows[doc - 1][1]))
    assert out[6]["media_kind"] is None
    assert out[6]["n_bytes"] is None


def test_audio_parser_is_shipped_by_value():
    """Same by-value contract as ``_media_parser``: the closure must
    survive a cloudpickle round-trip without this package on sys.path."""
    import pickle
    import struct

    import cloudpickle

    parse = multimodal._audio_parser()
    clone = pickle.loads(cloudpickle.dumps(parse))
    wav = _make_wav(1, 2, 8000, struct.pack("<2h", 5, -5))
    assert clone(wav) == parse(wav)
    assert clone(None) == (None,) * 8


def test_connected_components_max_iter_one_trivial_graph(spark):
    """max_iter=1 must still detect trivially-converged graphs (the
    round-1 skip-the-check shortcut may not force a spurious
    non-convergence), and a real edge within max_iter=1 still raises."""
    from pyspark.sql import Row

    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup.connected_components(empty, max_iter=1)
    assert out.count() == 0

    one_edge = spark.createDataFrame([Row(doc_a=1, doc_b=2)])
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(one_edge, max_iter=1)


# ---------------------------------------------------------------------------
# similarity: product quantization (PQ/ADC)
# ---------------------------------------------------------------------------


def _pq_brute(vecs, m_sub, k_codes, qid, k, rerank):
    """Pure-Python PQ/ADC rederivation (third independent path beside
    the Column expressions and the DuckDB oracle): quantize -> seed
    codebooks -> argmin encode (lowest index on ties) -> LUT -> ADC
    rank -> exact re-rank.  ``vecs`` = [(vec_id, label, [float32-safe
    floats])]."""
    import numpy as np

    def quant(xs):
        # mirror CAST(float AS DOUBLE) * 1e6 -> round; generator
        # excludes half-sample values so nearest == HALF_UP
        return [round(float(np.float32(x)) * 1e6) for x in xs]

    q = {vid: quant(xs) for vid, _, xs in vecs}
    dim = len(next(iter(q.values())))
    sub = dim // m_sub
    seeds = sorted(vid for vid, _, _ in vecs if vid < k_codes)
    cbs = [
        [q[vid][s * sub:(s + 1) * sub] for vid in seeds]
        for s in range(m_sub)
    ]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def codes(vq):
        out = []
        for s in range(m_sub):
            ds = [l2(vq[s * sub:(s + 1) * sub], c) for c in cbs[s]]
            out.append(min(range(len(ds)), key=lambda j: (ds[j], j)))
        return out

    qq = q[qid]
    lut = [
        [l2(qq[s * sub:(s + 1) * sub], c) for c in cbs[s]]
        for s in range(m_sub)
    ]
    rows = []
    for vid, label, _ in vecs:
        if vid == qid:
            continue
        cs = codes(q[vid])
        adc = sum(lut[s][cs[s]] for s in range(m_sub))
        rows.append((vid, label, adc))
    pool = sorted(rows, key=lambda r: (r[2], r[0]))[:rerank]
    final = sorted(
        ((vid, label, adc, l2(q[vid], qq)) for vid, label, adc in pool),
        key=lambda r: (r[3], r[0]),
    )[:k]
    return final


def _pq_vec(rng, dim):
    """Random embedding whose float32->double->1e6 quantization is
    never near a half-sample (keeps HALF_UP == nearest in the brute
    force)."""
    import numpy as np

    out = []
    while len(out) < dim:
        x = rng.randint(-999, 999) / 1000
        frac = abs(float(np.float32(x)) * 1e6) % 1.0
        if abs(frac - 0.5) > 1e-3:
            out.append(x)
    return out


@pytest.mark.parametrize("seed,m_sub,rerank", [
    (0, 2, 6), (1, 2, 29), (2, 4, 6), (3, 4, 29),
])
def test_pq_fuzz_vs_brute_force(spark, seed, m_sub, rerank):
    """Randomized vectors against the pure-Python PQ rederivation —
    codes, ADC ranking, pool cut, and exact re-rank must match row for
    row at every (m_sub, rerank)."""
    import random

    rng = random.Random(seed)
    vecs = [(i, i % 3, _pq_vec(rng, 8)) for i in range(30)]
    df = spark.createDataFrame(
        [(v, lb, xs) for v, lb, xs in vecs],
        "vec_id long, label long, embedding array<float>",
    )
    got = [
        tuple(r)
        for r in similarity.pq_topk(
            df, query_vec_id=0, k=6, m_sub=m_sub, k_codes=4, rerank=rerank
        ).collect()
    ]
    want = _pq_brute(vecs, m_sub, 4, qid=0, k=6, rerank=rerank)
    assert got == want


def test_pq_full_rerank_equals_exact_search(spark, embeddings):
    """With the pool opened to every candidate, the exact re-rank must
    reproduce brute-force integer-L2 top-k exactly — ADC affects only
    WHICH candidates reach the pool, never the final metric."""
    from etl_olho_vivo_spark.operators.similarity import (
        _l2sq_int,
        _quantize,
    )

    n = embeddings.count()
    got = [
        (r["vec_id"], r["l2_exact"])
        for r in similarity.pq_topk(
            embeddings, query_vec_id=0, k=10, rerank=n
        ).collect()
    ]
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.expr(_quantize("embedding")).alias("q_qv")
    )
    exact = (
        embeddings.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                _l2sq_int(_quantize("embedding"), "q_qv")
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    )
    assert got == [(r["vec_id"], r["d"]) for r in exact]


@pytest.mark.sweep
def test_pq_rerank_is_the_recall_dial(spark, embeddings):
    """recall@10 vs exact integer-L2 must not decrease as the re-rank
    pool widens, and the default pool must clear a floor."""
    n = embeddings.count()
    truth = {
        r["vec_id"]
        for r in similarity.pq_topk(
            embeddings, query_vec_id=0, k=10, rerank=n
        ).collect()
    }
    rec = {}
    for rr in (10, 50, n):
        got = {
            r["vec_id"]
            for r in similarity.pq_topk(
                embeddings, query_vec_id=0, k=10, rerank=rr
            ).collect()
        }
        rec[rr] = len(got & truth) / 10
    assert rec[10] <= rec[50] <= rec[n] == 1.0
    assert rec[50] >= 0.5, rec


def test_pq_serving_path_and_plan(spark, embeddings, tmp_path):
    """The persisted-codes serving path returns the identical result,
    and the ADC stage's final plan has ZERO corpus-side hash exchanges
    — the one-scan-plus-TakeOrdered shape is the whole point of PQ."""
    inline = [
        tuple(r)
        for r in similarity.pq_topk(embeddings, query_vec_id=0).collect()
    ]
    cbs = similarity.pq_codebooks(embeddings)
    codes_dir = str(tmp_path / "pq_codes")
    similarity.pq_encode(embeddings, cbs).write.parquet(codes_dir)
    served_df = similarity.pq_topk(
        embeddings, query_vec_id=0,
        codebooks=cbs, codes=spark.read.parquet(codes_dir),
    )
    assert [tuple(r) for r in served_df.collect()] == inline
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final, final[:2000]
    # the frame has executed: the walk reads AQE's final plan
    assert count_nodes(executed_plan(served_df))[
        "TakeOrderedAndProjectExec"
    ] >= 2, final[:2000]


def test_pq_validation(spark, embeddings):
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_topk(embeddings, query_vec_id=0, k=10, rerank=5)
    with pytest.raises(ValueError, match="divisible"):
        similarity.pq_codebooks(embeddings, m_sub=7)
    with pytest.raises(ValueError, match="seeds"):
        similarity.pq_codebooks(
            embeddings.filter(F.col("vec_id") >= 10), k_codes=16
        )
    with pytest.raises(ValueError, match="not in embeddings"):
        similarity.pq_topk(embeddings, query_vec_id=10**9)


def test_pq_mismatched_and_stale_codes_fail_loudly(spark, embeddings):
    """A persisted index encoded with a different m_sub must be
    rejected before any scan (NULL adc_dist would otherwise fill the
    pool via NULLS-FIRST ordering), and a pool candidate whose vec_id
    vanished from the embeddings table must raise, not silently return
    fewer than k rows."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    codes8 = similarity.pq_encode(embeddings)  # m_sub=8
    with pytest.raises(ValueError, match="different m_sub"):
        similarity.pq_topk(
            embeddings, query_vec_id=0, m_sub=16,
            codebooks=similarity.pq_codebooks(embeddings, m_sub=16),
            codes=codes8,
        )
    # stale index: codes built over ALL vectors, embeddings missing some
    shrunk = embeddings.filter(
        (F.col("vec_id") < 100) | (F.col("vec_id") % 2 == 0)
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException),
                       match="stale index"):
        similarity.pq_topk(
            shrunk, query_vec_id=0,
            codebooks=similarity.pq_codebooks(embeddings),
            codes=codes8, rerank=400,
        ).collect()


def test_ivfpq_full_probe_full_rerank_equals_exact_search(
    spark, embeddings
):
    """With every cell probed and the pool opened to every candidate,
    IVF-PQ's exact re-rank must reproduce brute-force integer-L2 top-k
    exactly — coarse routing and residual ADC affect only WHICH
    candidates reach the pool, never the final metric."""
    from etl_olho_vivo_spark.operators.similarity import (
        _l2sq_int,
        _quantize,
    )

    n = embeddings.count()
    got = [
        (r["vec_id"], r["l2_exact"])
        for r in similarity.ivfpq_topk(
            embeddings, query_vec_id=0, k=10, n_cells=8, n_probe=8,
            rerank=n,
        ).collect()
    ]
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.expr(_quantize("embedding")).alias("q_qv")
    )
    exact = (
        embeddings.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                _l2sq_int(_quantize("embedding"), "q_qv")
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    )
    assert got == [(r["vec_id"], r["d"]) for r in exact]


@pytest.mark.sweep
def test_ivfpq_probe_and_rerank_are_the_recall_dials(spark, embeddings):
    """recall@10 vs exact integer-L2 must not decrease as either dial
    widens (probes at fixed pool, pool at fixed probes)."""
    n = embeddings.count()
    truth = {
        r["vec_id"]
        for r in similarity.ivfpq_topk(
            embeddings, query_vec_id=0, k=10, n_probe=8, rerank=n
        ).collect()
    }

    def rec(n_probe, rerank):
        got = {
            r["vec_id"]
            for r in similarity.ivfpq_topk(
                embeddings, query_vec_id=0, k=10,
                n_probe=n_probe, rerank=rerank,
            ).collect()
        }
        return len(got & truth) / 10

    assert rec(1, 50) <= rec(2, 50) <= rec(8, 50) <= rec(8, n) == 1.0
    assert rec(2, 10) <= rec(2, 50) <= rec(2, n)


def test_ivfpq_validation_and_stale_codes(spark, embeddings):
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivfpq_topk(embeddings, query_vec_id=0, k=10, rerank=5)
    with pytest.raises(ValueError, match="not in embeddings"):
        similarity.ivfpq_topk(embeddings, query_vec_id=10**9)
    with pytest.raises(ValueError, match="centroids"):
        similarity.ivfpq_topk(
            embeddings, query_vec_id=0,
            coded=similarity.ivfpq_encode(embeddings),
        )
    # seeds must exist past the centroid range
    with pytest.raises(ValueError, match="seeds"):
        similarity.ivfpq_codebooks(
            embeddings.filter(F.col("vec_id") < 10), k_codes=16
        )
    # codes persisted under a different m_sub are rejected before any
    # scan (same NULL-adc hazard as pq_topk)
    cents = similarity._default_centroids(embeddings, 8)
    books16 = similarity.ivfpq_codebooks(embeddings, cents, m_sub=16)
    coded8 = similarity.ivfpq_encode(embeddings, cents)  # m_sub=8
    with pytest.raises(ValueError, match="different m_sub"):
        similarity.ivfpq_topk(
            embeddings, query_vec_id=0,
            centroids=cents, codebooks=books16, coded=coded8,
        )
    # stale index: a pool vec_id missing from embeddings raises loudly
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    books = similarity.ivfpq_codebooks(embeddings, cents)
    codedall = similarity.ivfpq_encode(embeddings, cents, books)
    shrunk = embeddings.filter(
        (F.col("vec_id") < 100) | (F.col("vec_id") % 2 == 0)
    )
    with pytest.raises(SparkRuntimeException, match="stale index"):
        similarity.ivfpq_topk(
            shrunk, query_vec_id=0, n_probe=8, rerank=400,
            centroids=cents, codebooks=books, coded=codedall,
        ).collect()


def _make_png(width, height, raw_rows, color_type, filters,
              break_crc=False, interlace=0, depth=8):
    """Deterministic PNG encoder for fixtures: ``raw_rows`` is a list of
    ``height`` byte-rows (each ``width * channels`` sample bytes);
    ``filters`` gives the per-row filter type, applied FORWARD here so
    the decoder must reverse it.  Pure stdlib, like the decoder."""
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    bpp = channels

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    out = bytearray()
    prev = bytes(stride)
    for r, row in enumerate(raw_rows):
        assert len(row) == stride
        ft = filters[r % len(filters)]
        out.append(ft)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                v = row[i]
            elif ft == 1:
                v = row[i] - a
            elif ft == 2:
                v = row[i] - b
            elif ft == 3:
                v = row[i] - ((a + b) >> 1)
            else:
                v = row[i] - paeth(a, b, c)
            out.append(v & 0xFF)
        prev = bytes(row)

    def chunk(typ, data):
        crc = zlib.crc32(typ + data)
        if break_crc and typ == b"IDAT":
            crc ^= 1
        return (
            len(data).to_bytes(4, "big") + typ + data
            + crc.to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([depth, color_type, 0, 0, interlace])
    )
    comp = zlib.compress(bytes(out))
    # split the stream across two IDAT chunks — concatenation is part
    # of the decode contract
    mid = len(comp) // 2
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp[:mid])
        + chunk(b"IDAT", comp[mid:])
        + chunk(b"IEND", b"")
    )


def _png_rows(seed, height, stride):
    import random

    rng = random.Random(seed)
    return [
        bytes(rng.randrange(256) for _ in range(stride))
        for _ in range(height)
    ]


def test_decode_media_real_png_all_filters_and_color_types(spark):
    """The round-10 PNG decoder: generated fixtures exercising every
    scanline filter (None/Sub/Up/Average/Paeth) and every supported
    color type must reconstruct the exact sample bytes — the mean over
    pseudo-random pixels is a content hash, not a header read — while
    palette/16-bit/interlaced/CRC-damaged/truncated inputs degrade to
    the opaque fallback."""
    fixtures = {}
    doc = 0
    for color_type in (0, 2, 4, 6):
        channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
        w, h = 5, 7
        rows = _png_rows(17 + color_type, h, w * channels)
        png = _make_png(w, h, rows, color_type, filters=[0, 1, 2, 3, 4])
        mean = round(
            sum(sum(r) for r in rows) / (h * w * channels), 4
        )
        doc += 1
        fixtures[doc] = (png, ("png", w, h, mean))
    # single-filter streams too (a one-filter encoder is common)
    for ft in (1, 4):
        w, h = 3, 4
        rows = _png_rows(99 + ft, h, w * 3)
        png = _make_png(w, h, rows, 2, filters=[ft])
        mean = round(sum(sum(r) for r in rows) / (h * w * 3), 4)
        doc += 1
        fixtures[doc] = (png, ("png", w, h, mean))
    good = _make_png(4, 4, _png_rows(1, 4, 12), 2, filters=[0])
    bad = {
        "crc": _make_png(4, 4, _png_rows(1, 4, 12), 2, [0],
                         break_crc=True),
        "interlaced": _make_png(4, 4, _png_rows(1, 4, 12), 2, [0],
                                interlace=1),
        "depth16": _make_png(4, 4, _png_rows(1, 4, 12), 2, [0],
                             depth=16),
        "truncated": good[: len(good) - 20],
        "sig_only": b"\x89PNG\r\n\x1a\n" + b"junk",
    }
    for png in bad.values():
        doc += 1
        fixtures[doc] = (png, None)

    df = spark.createDataFrame(
        [(d, bytearray(png)) for d, (png, _) in fixtures.items()],
        "doc_id long, media binary",
    )
    out = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    for d, (png, want) in fixtures.items():
        r = out[d]
        if want is None:
            assert r["media_kind"] == "opaque", (d, dict(r.asDict()))
            assert r["width"] == r["checksum"] % 640
            assert r["mean_pixel"] is None
        else:
            kind, w, h, mean = want
            got = (r["media_kind"], r["width"], r["height"],
                   r["mean_pixel"])
            assert got == (kind, w, h, mean), (d, got, want)
            assert r["n_bytes"] == len(png)


def test_png_inflate_bomb_and_dim_guard_degrade_to_opaque():
    """Hostile-input contract (round-11 ADVICE): a PNG whose header
    promises absurd geometry is rejected before any inflate, and a
    deflate bomb behind a small valid header is cut off at the
    header's promised byte budget instead of allocating its full
    output — both degrade to opaque, mirroring the JPEG SOF guard."""
    import zlib

    parse = multimodal._media_parser()

    def chunk(typ, data):
        return (len(data).to_bytes(4, "big") + typ + data
                + zlib.crc32(typ + data).to_bytes(4, "big"))

    sig = b"\x89PNG\r\n\x1a\n"

    # (a) 8192x8192 grayscale = 64M pixels > the 1<<24 guard
    ihdr_huge = ((8192).to_bytes(4, "big") + (8192).to_bytes(4, "big")
                 + bytes([8, 0, 0, 0, 0]))
    huge = (sig + chunk(b"IHDR", ihdr_huge)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b""))
    assert parse(huge)[2] == "opaque"

    # (b) valid 8x8 header (72 raw bytes promised) hiding an 8 MiB
    # stream: the bounded decompressobj stops at 73 bytes and the
    # parse returns opaque rather than inflating the bomb
    ihdr_8 = ((8).to_bytes(4, "big") + (8).to_bytes(4, "big")
              + bytes([8, 0, 0, 0, 0]))
    bomb = (sig + chunk(b"IHDR", ihdr_8)
            + chunk(b"IDAT", zlib.compress(b"\x00" * (8 << 20)))
            + chunk(b"IEND", b""))
    assert parse(bomb)[2] == "opaque"

    # (c) stream shorter than the promised geometry stays opaque too
    short = (sig + chunk(b"IHDR", ihdr_8)
             + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
             + chunk(b"IEND", b""))
    assert parse(short)[2] == "opaque"


# ---------------------------------------------------------------------------
# JPEG fixtures: a minimal baseline encoder, independent of the decoder
# (explicit cosine-sum DCT, its own canonical-Huffman assignment, its
# own zigzag copy), so decode parity is a genuine cross-check.
# ---------------------------------------------------------------------------

_JPEG_ZIG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19,
    26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49,
    56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52,
    45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_tables(progressive=False):
    """Canonical Huffman tables covering every baseline symbol: DC
    categories 0-11 at length 4 (12 < 16 codes), AC = EOB + ZRL + all
    (run 0-15, size 1-10) pairs at length 8 (162 < 256 codes).
    ``progressive`` additionally assigns the EOBn symbols (r<<4)|0 for
    r=1..14 (176 < 256 still fits length 8)."""
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_vals = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    if progressive:
        ac_vals += [(r << 4) for r in range(1, 15)]
    ac_bits = [0] * 7 + [len(ac_vals)] + [0] * 8

    def canonical(bits, vals):
        enc, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                enc[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return enc

    return (
        (bytes(dc_bits) + bytes(dc_vals), canonical(dc_bits, dc_vals)),
        (bytes(ac_bits) + bytes(ac_vals), canonical(ac_bits, ac_vals)),
    )


class _JpegBits:
    def __init__(self):
        self.buf, self.acc, self.n = bytearray(), 0, 0

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad final byte with 1s


def _jpeg_fdct_quant(block):
    """Forward DCT via the explicit cosine double-sum (not the decoder's
    matmul), quantized with an all-ones table → integer coefficients."""
    import numpy as np

    f = np.asarray(block, dtype=np.float64) - 128.0
    x = np.arange(8)
    cos = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c = np.full(8, 1.0)
    c[0] = 1 / np.sqrt(2.0)
    F = np.zeros((8, 8))
    for v in range(8):
        for u in range(8):
            F[v, u] = 0.25 * c[u] * c[v] * np.sum(
                f * cos[v][:, None] * cos[u][None, :]
            )
    return np.rint(F).astype(np.int64)


def _jpeg_encode_block(Fq, pred, dc_enc, ac_enc, w):
    zz = [int(Fq[_JPEG_ZIG[k] // 8, _JPEG_ZIG[k] % 8]) for k in range(64)]
    diff = zz[0] - pred
    s = abs(diff).bit_length()
    w.put(*dc_enc[s])
    if s:
        w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    k, run = 1, 0
    while k < 64:
        v = zz[k]
        if v == 0:
            run += 1
        else:
            while run > 15:
                w.put(*ac_enc[0xF0])  # ZRL
                run -= 16
            s = abs(v).bit_length()
            assert s <= 10
            w.put(*ac_enc[(run << 4) | s])
            w.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        k += 1
    if run:
        w.put(*ac_enc[0x00])  # EOB
    return zz[0]


def _make_jpeg(w, h, planes, hv, restart=0, sof=0xC0):
    """Minimal baseline JPEG: ``planes`` at component resolution (padded
    to MCU multiples), ``hv`` the (hs, vs) sampling per component, quant
    all-ones, one shared DC/AC Huffman table pair."""
    import numpy as np

    (dc_payload, dc_enc), (ac_payload, ac_enc) = _jpeg_tables()
    nc = len(planes)
    hmax = max(hs for hs, _ in hv)
    vmax = max(vs for _, vs in hv)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def seg(marker, payload):
        return (
            b"\xff" + bytes([marker])
            + (len(payload) + 2).to_bytes(2, "big") + payload
        )

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC4, bytes([0x00]) + dc_payload)
    out += seg(0xC4, bytes([0x10]) + ac_payload)
    sofp = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci, (hs, vs) in enumerate(hv):
        sofp += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(sof, sofp)
    if restart:
        out += seg(0xDD, restart.to_bytes(2, "big"))
    sosp = bytes([nc])
    for ci in range(nc):
        sosp += bytes([ci + 1, 0x00])
    sosp += bytes([0, 63, 0])
    out += seg(0xDA, sosp)

    bw = _JpegBits()
    preds = [0] * nc
    rst = mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                bw.flush()
                bw.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * nc
            mcu_count += 1
            for ci, (hs, vs) in enumerate(hv):
                p = np.asarray(planes[ci])
                for by in range(vs):
                    for bx in range(hs):
                        r0 = (my * vs + by) * 8
                        c0 = (mx * hs + bx) * 8
                        Fq = _jpeg_fdct_quant(p[r0:r0 + 8, c0:c0 + 8])
                        preds[ci] = _jpeg_encode_block(
                            Fq, preds[ci], dc_enc, ac_enc, bw
                        )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _zz_blocks(planes, hv, mcux, mcuy):
    """Per-component zigzag coefficient grids at the MCU-padded block
    resolution (quant all-ones, same forward DCT as the baseline
    encoder) — shared by the baseline and progressive writers so a
    sibling pair carries IDENTICAL coefficients."""
    import numpy as np

    out = []
    for ci, (hs, vs) in enumerate(hv):
        p = np.asarray(planes[ci])
        bh, bw = mcuy * vs, mcux * hs
        grid = [[None] * bw for _ in range(bh)]
        for by in range(bh):
            for bx in range(bw):
                Fq = _jpeg_fdct_quant(
                    p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                )
                grid[by][bx] = [
                    int(Fq[_JPEG_ZIG[k] // 8, _JPEG_ZIG[k] % 8])
                    for k in range(64)
                ]
        out.append(grid)
    return out


class _ProgAcState:
    """Cross-block AC-scan state: the pending EOB run and the
    correction bits that belong to it (emitted together on flush)."""

    def __init__(self, w, ac_enc):
        self.w, self.enc = w, ac_enc
        self.eobrun = 0
        self.be = []

    def flush(self):
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            self.w.put(*self.enc[r << 4])
            if r:
                self.w.put(self.eobrun - (1 << r), r)
        for b in self.be:
            self.w.put(b, 1)
        self.be = []
        self.eobrun = 0


def _prog_ac_first_block(zz, ss, se, al, st):
    """AC first scan (T.81 G.1.2.2): runs + EOBn accumulation, values
    magnitude-shifted by Al (sign preserved)."""
    w, enc = st.w, st.enc
    r = 0
    for k in range(ss, se + 1):
        v = zz[k]
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        while r > 15:
            st.flush()
            w.put(*enc[0xF0])
            r -= 16
        st.flush()
        s = t.bit_length()
        assert s <= 10
        w.put(*enc[(r << 4) | s])
        tv = t if v > 0 else -t
        w.put(tv if tv > 0 else tv + (1 << s) - 1, s)
        r = 0
    if r:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()


def _prog_ac_refine_block(zz, ss, se, al, st):
    """AC refinement scan (T.81 G.1.2.3): one correction bit per
    already-nonzero coefficient, (run,1)+sign for newly-significant
    ones, zero runs beyond the last new coefficient folded into the
    EOB run together with their correction bits."""
    w, enc = st.w, st.enc
    absv = [abs(zz[ss + i]) >> al for i in range(se - ss + 1)]
    eob = 0
    for i, t in enumerate(absv):
        if t == 1:
            eob = i + 1
    r = 0
    br = []  # correction bits since the last emitted symbol
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i < eob:
            st.flush()
            w.put(*enc[0xF0])
            r -= 16
            for b in br:
                w.put(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        st.flush()
        w.put(*enc[(r << 4) | 1])
        w.put(1 if zz[ss + i] > 0 else 0, 1)
        for b in br:
            w.put(b, 1)
        br = []
        r = 0
    if r or br:
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF:
            st.flush()


def _make_progressive_jpeg(w, h, planes, hv, dc_al=1, ac_al=1,
                           bands=((1, 5), (6, 63))):
    """Independent progressive (SOF2) encoder: spectral selection via
    ``bands`` plus successive approximation (DC first at Al=``dc_al``
    with one-bit refinements down to 0; AC first at Al=``ac_al`` with
    refinement scans down to 0; both 0 = spectral selection only).
    Same all-ones quant table and forward DCT as the baseline encoder,
    so a progressive file and its baseline sibling carry IDENTICAL
    coefficients — the decoder must produce the same pixels for both.
    Like the decoder, this is an original implementation of the
    T.81 G.1.2 procedures, so parity is a genuine cross-check."""
    (dc_payload, dc_enc), (ac_payload, ac_enc) = _jpeg_tables(True)
    nc = len(planes)
    hmax = max(hs for hs, _ in hv)
    vmax = max(vs for _, vs in hv)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grids = _zz_blocks(planes, hv, mcux, mcuy)
    # non-interleaved (single-component scan) block grids
    ni = []
    for hs, vs in hv:
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        ni.append((-(-cw // 8), -(-ch // 8)))

    def seg(marker, payload):
        return (
            b"\xff" + bytes([marker])
            + (len(payload) + 2).to_bytes(2, "big") + payload
        )

    def sos(sel, ss, se, ah, al):
        p = bytes([len(sel)])
        for cid, tdta in sel:
            p += bytes([cid, tdta])
        p += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, p)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC4, bytes([0x00]) + dc_payload)
    out += seg(0xC4, bytes([0x10]) + ac_payload)
    sofp = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci, (hs, vs) in enumerate(hv):
        sofp += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC2, sofp)

    def mcu_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hs, vs) in enumerate(hv):
                    for by in range(vs):
                        for bx in range(hs):
                            yield ci, grids[ci][my * vs + by][mx * hs + bx]

    # 1. DC first scan (interleaved, Al=dc_al): diffs of the
    # floor-shifted DC values
    out += sos([(ci + 1, 0x00) for ci in range(nc)], 0, 0, 0, dc_al)
    bw_ = _JpegBits()
    preds = [0] * nc
    for ci, zz in mcu_blocks():
        v = zz[0] >> dc_al
        diff = v - preds[ci]
        preds[ci] = v
        s = abs(diff).bit_length()
        bw_.put(*dc_enc[s])
        if s:
            bw_.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    bw_.flush()
    out += bw_.buf
    # 2. DC refinement scans: one raw bit per block per level
    for al in range(dc_al - 1, -1, -1):
        out += sos([(ci + 1, 0x00) for ci in range(nc)], 0, 0, al + 1, al)
        bw_ = _JpegBits()
        for ci, zz in mcu_blocks():
            bw_.put((zz[0] >> al) & 1, 1)
        bw_.flush()
        out += bw_.buf
    # 3. AC first scans: per component, per band, at Al=ac_al
    for ci in range(nc):
        bwn, bhn = ni[ci]
        for (ss, se) in bands:
            out += sos([(ci + 1, 0x00)], ss, se, 0, ac_al)
            bw_ = _JpegBits()
            st = _ProgAcState(bw_, ac_enc)
            for by in range(bhn):
                for bx in range(bwn):
                    _prog_ac_first_block(grids[ci][by][bx], ss, se,
                                         ac_al, st)
            st.flush()
            bw_.flush()
            out += bw_.buf
    # 4. AC refinement scans down to Al=0
    for al in range(ac_al - 1, -1, -1):
        for ci in range(nc):
            bwn, bhn = ni[ci]
            for (ss, se) in bands:
                out += sos([(ci + 1, 0x00)], ss, se, al + 1, al)
                bw_ = _JpegBits()
                st = _ProgAcState(bw_, ac_enc)
                for by in range(bhn):
                    for bx in range(bwn):
                        _prog_ac_refine_block(grids[ci][by][bx], ss, se,
                                              al, st)
                st.flush()
                bw_.flush()
                out += bw_.buf
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_idct_oracle(Fq):
    """Independent IDCT (explicit cosine sum) of integer coefficients →
    clipped uint8 block, for expected-pixel rederivation."""
    import numpy as np

    x = np.arange(8)
    cos = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c = np.full(8, 1.0)
    c[0] = 1 / np.sqrt(2.0)
    f = np.zeros((8, 8))
    for y in range(8):
        for xx in range(8):
            f[y, xx] = 0.25 * np.sum(
                (c[:, None] * c[None, :]) * Fq
                * cos[:, y][:, None] * cos[:, xx][None, :]
            )
    return np.clip(np.rint(f + 128.0), 0, 255)


def test_decode_media_real_jpeg_gray_and_color(spark):
    """The round-10 baseline JPEG decoder: solid-color fixtures decode
    EXACTLY (DC-only blocks roundtrip losslessly through an all-ones
    quant table), exercising DC prediction across blocks, grayscale and
    4:4:4 / 4:2:0 color, and the JFIF YCbCr→RGB conversion; unsupported
    shapes (progressive SOF2, truncation) degrade to opaque."""
    import numpy as np

    fixtures = {}

    # 1. grayscale 16x24: six 8x8 blocks with distinct constant values —
    # the DC prediction chain must carry across every block
    vals = [40, 90, 128, 200, 255, 0]
    plane = np.zeros((24, 16))
    for b, v in enumerate(vals):
        r, c = divmod(b, 2)
        plane[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = v
    jpg = _make_jpeg(16, 24, [plane], [(1, 1)])
    fixtures[1] = (jpg, ("jpeg", 16, 24, round(float(np.mean(vals)), 4)))

    # 2. solid 4:4:4 color 16x16: Y=120 Cb=140 Cr=100 — expected RGB via
    # the JFIF formula, computed here independently
    y0, cb0, cr0 = 120.0, 140.0, 100.0
    planes = [np.full((16, 16), v) for v in (y0, cb0, cr0)]
    jpg = _make_jpeg(16, 16, planes, [(1, 1)] * 3)
    r = np.clip(round(y0 + 1.402 * (cr0 - 128)), 0, 255)
    g = np.clip(
        round(y0 - 0.344136 * (cb0 - 128) - 0.714136 * (cr0 - 128)),
        0, 255,
    )
    b = np.clip(round(y0 + 1.772 * (cb0 - 128)), 0, 255)
    fixtures[2] = (
        jpg, ("jpeg", 16, 16, round(float((r + g + b) / 3.0), 4))
    )

    # 3. 4:2:0 32x32: varied solid Y blocks, constant chroma — the
    # subsampled planes are 16x16 and must upsample 2x2
    yvals = [16 * i + 8 for i in range(16)]
    yplane = np.zeros((32, 32))
    for bidx, v in enumerate(yvals):
        rr, cc = divmod(bidx, 4)
        yplane[rr * 8:(rr + 1) * 8, cc * 8:(cc + 1) * 8] = v
    cbp = np.full((16, 16), 140.0)
    crp = np.full((16, 16), 100.0)
    jpg = _make_jpeg(
        32, 32, [yplane, cbp, crp], [(2, 2), (1, 1), (1, 1)]
    )
    rgb = []
    for v in yvals:
        rr = np.clip(round(v + 1.402 * (100 - 128)), 0, 255)
        gg = np.clip(
            round(v - 0.344136 * (140 - 128) - 0.714136 * (100 - 128)),
            0, 255,
        )
        bb = np.clip(round(v + 1.772 * (140 - 128)), 0, 255)
        rgb.append((rr + gg + bb) / 3.0)
    fixtures[3] = (jpg, ("jpeg", 32, 32, round(float(np.mean(rgb)), 4)))

    # unsupported / corrupt → opaque
    good = fixtures[1][0]
    fixtures[4] = (_make_jpeg(16, 24, [plane], [(1, 1)], sof=0xC2), None)
    fixtures[5] = (good[: len(good) - 30], None)

    df = spark.createDataFrame(
        [(d, bytearray(j)) for d, (j, _) in fixtures.items()],
        "doc_id long, media binary",
    )
    out = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    for d, (jpg, want) in fixtures.items():
        row = out[d]
        if want is None:
            assert row["media_kind"] == "opaque", (d, dict(row.asDict()))
            assert row["mean_pixel"] is None
        else:
            kind, w, h, mean = want
            got = (row["media_kind"], row["width"], row["height"],
                   row["mean_pixel"])
            assert got == (kind, w, h, mean), (d, got, want)


def test_decode_jpeg_ac_coefficients_and_restarts(spark):
    """Content-bearing blocks (non-zero AC coefficients from seeded
    pseudo-random pixels) decode to the independently-rederived IDCT
    output — run-length AC coding, ZRL, magnitude categories, odd-size
    cropping, and DRI/RSTn restart-marker resync all on the line.  The
    encoder quantizes (lossy), so the oracle is the IDCT of the EXACT
    integer coefficients the stream carries, compared within float-
    rounding slack; restart parity is exact vs the no-restart stream."""
    import random

    import numpy as np

    parse = multimodal._media_parser()

    # odd dims: 10x6 visible in a 16x8 padded plane
    rng = random.Random(42)
    plane = np.array(
        [[rng.randrange(256) for _ in range(16)] for _ in range(8)],
        dtype=np.float64,
    )
    jpg = parse_in = _make_jpeg(10, 6, [plane], [(1, 1)])
    n, _, kind, w, h, mean = parse(parse_in)
    assert (kind, w, h) == ("jpeg", 10, 6)
    expect = np.zeros((8, 16))
    for bx in range(2):
        Fq = _jpeg_fdct_quant(plane[0:8, bx * 8:(bx + 1) * 8])
        expect[0:8, bx * 8:(bx + 1) * 8] = _jpeg_idct_oracle(Fq)
    want = float(expect[:6, :10].mean())
    assert abs(mean - want) < 0.05, (mean, want)

    # restart markers: same content encoded with DRI=1 must decode to
    # exactly the same mean as the plain stream
    rng = random.Random(7)
    plane2 = np.array(
        [[rng.randrange(256) for _ in range(16)] for _ in range(16)],
        dtype=np.float64,
    )
    plain = parse(_make_jpeg(16, 16, [plane2], [(1, 1)]))
    rst = parse(_make_jpeg(16, 16, [plane2], [(1, 1)], restart=1))
    assert plain[2] == rst[2] == "jpeg"
    assert plain[5] == rst[5] and plain[5] is not None
    # and a stream whose restart markers are MISSING vs its DRI header
    # must degrade to opaque, not desync silently
    broken = _make_jpeg(16, 16, [plane2], [(1, 1)])
    broken = broken.replace(
        b"\xff\xda", b"\xff\xdd\x00\x04\x00\x01\xff\xda", 1
    )
    assert parse(broken)[2] == "opaque"


def test_decode_progressive_jpeg_matches_baseline_exactly(spark):
    """Round-11 progressive (SOF2) decode: the independent progressive
    encoder emits the SAME quantized coefficients as its baseline
    sibling (shared forward DCT + all-ones quant), so the decoded
    pixel grids must match BIT-EXACTLY across every scan-script
    variant — spectral selection only, successive approximation on DC
    and AC, multi-band scripts, grayscale/4:4:4/4:2:0, odd crops whose
    non-interleaved AC grids differ from the MCU-padded DC grid, and
    flat content that drives multi-block EOB runs.  dHash container
    invariance extends to progressive-vs-baseline pairs."""
    import numpy as np

    parse = multimodal._media_parser(pixels=True)
    dhash = multimodal._dhash_fn()
    rng = np.random.RandomState(11)

    def rand_plane(h, w):
        return rng.randint(0, 256, size=(h, w)).astype(np.float64)

    cases = []
    # grayscale, full-spectrum noise (dense AC symbols + corrections)
    cases.append((16, 24, [rand_plane(24, 16)], [(1, 1)]))
    # 4:4:4 color
    cases.append(
        (16, 16, [rand_plane(16, 16) for _ in range(3)], [(1, 1)] * 3)
    )
    # 4:2:0 color, odd dims: luma ni grid 3x2 inside a 4x2 padded
    # grid — AC scans cover fewer blocks than the interleaved DC scan
    cases.append((
        17, 9,
        [rand_plane(16, 32), rand_plane(8, 16), rand_plane(8, 16)],
        [(2, 2), (1, 1), (1, 1)],
    ))
    # mostly-flat grayscale: solid blocks make band-empty blocks, so
    # EOBn runs span many blocks (incl. correction bits in refinement)
    flat = np.full((32, 32), 77.0)
    flat[8:16, 8:16] = rand_plane(8, 8)
    flat[24:32, 0:8] = rand_plane(8, 8)
    cases.append((32, 32, [flat], [(1, 1)]))
    # sparse high-frequency content: a lone coefficient deep in the
    # zigzag exercises ZRL inside refinement scans
    coef = np.zeros((8, 8))
    coef[5, 6] = 3  # zigzag position ~50
    sparse = np.tile(_jpeg_idct_oracle(coef), (2, 2))
    cases.append((16, 16, [sparse], [(1, 1)]))

    variants = [
        dict(dc_al=0, ac_al=0),                       # spectral only
        dict(dc_al=1, ac_al=1),                       # SA on DC + AC
        dict(dc_al=2, ac_al=1, bands=((1, 63),)),     # single band
        dict(dc_al=1, ac_al=2,
             bands=((1, 2), (3, 10), (11, 63))),      # deep SA, 3 bands
    ]
    for w, h, planes, hv in cases:
        base = parse(_make_jpeg(w, h, planes, hv))
        assert base[2] == "jpeg", (w, h)
        for var in variants:
            prog = parse(_make_progressive_jpeg(w, h, planes, hv, **var))
            assert prog[2] == "jpeg", (w, h, var)
            assert prog[3:6] == base[3:6], (w, h, var)  # w, h, mean
            assert prog[6] is not None
            assert np.array_equal(prog[6], base[6]), (w, h, var)
            assert dhash(prog[6]) == dhash(base[6])
    # arithmetic-coded SOF stays opaque (unsupported, loud-by-fallback)
    w, h, planes, hv = cases[0]
    assert parse(_make_jpeg(w, h, planes, hv, sof=0xC9))[2] == "opaque"


def _make_multiscan_jpeg(w, h, planes, hv, drop_last_scan=False):
    """Sequential baseline JPEG with ONE non-interleaved SOS per
    component — legal T.81 (a sequential image's components may be
    split across scans; some scanners emit exactly this).  Each scan
    walks the component's OWN block grid (ceil(cw/8) x ceil(ch/8)),
    independent of the decoder like ``_make_jpeg``."""
    import numpy as np

    (dc_payload, dc_enc), (ac_payload, ac_enc) = _jpeg_tables()
    nc = len(planes)
    hmax = max(hs for hs, _ in hv)
    vmax = max(vs for _, vs in hv)

    def seg(marker, payload):
        return (b"\xff" + bytes([marker])
                + (len(payload) + 2).to_bytes(2, "big") + payload)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC4, bytes([0x00]) + dc_payload)
    out += seg(0xC4, bytes([0x10]) + ac_payload)
    sofp = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci, (hs, vs) in enumerate(hv):
        sofp += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sofp)
    n_scans = nc - 1 if drop_last_scan else nc
    for ci in range(n_scans):
        hs, vs = hv[ci]
        out += seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        bw_ni, bh_ni = -(-cw // 8), -(-ch // 8)
        bits = _JpegBits()
        pred = 0
        p = np.asarray(planes[ci])
        for by in range(bh_ni):
            for bx in range(bw_ni):
                Fq = _jpeg_fdct_quant(
                    p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                )
                pred = _jpeg_encode_block(
                    Fq, pred, dc_enc, ac_enc, bits
                )
        bits.flush()
        out += bits.buf
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_multiscan_sequential_jpeg_matches_baseline(spark):
    """Round-12 (per ADVICE): LEGAL multi-scan sequential JPEGs —
    non-interleaved baseline, one SOS per component — decode through
    the unified coefficient-store path and match their single-scan
    interleaved sibling BIT-EXACTLY (same forward DCT + quant in both
    independent encoders).  An image missing one component's scan
    stays opaque (incomplete coverage must not half-decode), and a
    scan that re-codes an already-scanned component is rejected."""
    import numpy as np

    from etl_olho_vivo_spark.operators import multimodal

    parse = multimodal._media_parser(pixels=True)
    rng = np.random.RandomState(12)

    def rand_plane(h, w):
        return rng.randint(0, 256, size=(h, w)).astype(np.float64)

    cases = [
        # grayscale: one scan either way — the degenerate sanity case
        (16, 24, [rand_plane(24, 16)], [(1, 1)]),
        # 4:4:4 color, three scans
        (16, 16, [rand_plane(16, 16) for _ in range(3)], [(1, 1)] * 3),
        # 4:2:0 color, odd dims: per-component ni grids differ from
        # the MCU-padded grid the interleaved sibling walks
        ((17), 9,
         [rand_plane(16, 32), rand_plane(8, 16), rand_plane(8, 16)],
         [(2, 2), (1, 1), (1, 1)]),
    ]
    for w, h, planes, hv in cases:
        base = parse(_make_jpeg(w, h, planes, hv))
        multi = parse(_make_multiscan_jpeg(w, h, planes, hv))
        assert base[2] == multi[2] == "jpeg", (w, h)
        assert multi[3:6] == base[3:6], (w, h)  # width, height, mean
        assert np.array_equal(multi[6], base[6]), (w, h)

    # a component never scanned → opaque, not a half-decoded guess
    w, h, planes, hv = cases[1]
    missing = _make_multiscan_jpeg(w, h, planes, hv, drop_last_scan=True)
    assert parse(missing)[2] == "opaque"

    # a duplicated component scan → opaque (sequential re-scan illegal)
    full = _make_multiscan_jpeg(w, h, planes, hv)
    first_sos = full.index(b"\xff\xda")
    second_sos = full.index(b"\xff\xda", first_sos + 2)
    dup = full[:second_sos] + full[first_sos:second_sos] \
        + full[second_sos:]
    assert parse(dup)[2] == "opaque"


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (dHash + generic Hamming banding)
# ---------------------------------------------------------------------------

def _p5(width, height, rows):
    return (f"P5 {width} {height} 255\n").encode() + b"".join(rows)


def test_image_dhash_pins_and_invariances(spark):
    """dHash is pinned on analytically-known grids (strictly increasing
    columns ⇒ all 64 bits ⇒ signed -1; decreasing ⇒ 0), is invariant
    under uniform brightness shift and under container format (the same
    pixels as PNM and PNG hash identically), and NULLs out for
    non-raster media."""
    import numpy as np

    dhash = multimodal._dhash_fn()

    inc = np.tile(np.arange(16) * 10.0, (16, 1))
    assert dhash(inc) == -1
    assert dhash(inc[:, ::-1].copy()) == 0

    rng = np.random.RandomState(7)
    base = rng.randint(30, 200, size=(24, 32)).astype(np.float64)
    assert dhash(base) == dhash(base + 20.0)  # brightness invariance

    parse = multimodal._media_parser(pixels=True)
    rows = [bytes(base[r].astype(np.uint8)) for r in range(24)]
    pnm = _p5(32, 24, rows)
    png = _make_png(32, 24, rows, 0, filters=[0, 1, 2, 3, 4])
    g_pnm = parse(pnm)[6]
    g_png = parse(png)[6]
    assert g_pnm is not None and g_png is not None
    assert dhash(g_pnm) == dhash(g_png) == dhash(base)

    assert parse(b"just text media")[6] is None
    assert dhash(None) is None
    # tiny images upsample to the cell grid instead of crashing
    assert dhash(np.array([[1.0, 2.0], [3.0, 4.0]])) is not None


def test_image_near_dups_matches_brute_force(spark):
    """Operator pairs == pure-Python all-pairs Hamming over the same
    fingerprints (banding is lossless for max_hamming <= n_bands - 1):
    perturbed copies pair with small distances, unrelated images don't,
    and text media never pairs."""
    import numpy as np

    dhash = multimodal._dhash_fn()
    rng = np.random.RandomState(42)
    fixtures = {}
    doc = 0
    bases = []
    for b in range(6):
        img = rng.randint(20, 230, size=(24, 32)).astype(np.float64)
        bases.append(img)
        doc += 1
        fixtures[doc] = img
        # a copy with a small local perturbation (one cell region)
        near = img.copy()
        near[0:3, 0:4] = np.clip(near[0:3, 0:4] + 60.0, 0, 255)
        doc += 1
        fixtures[doc] = near

    rows = []
    for d, img in fixtures.items():
        payload = [bytes(img[r].astype(np.uint8)) for r in range(24)]
        rows.append((d, bytearray(_p5(32, 24, payload))))
    rows.append((99, bytearray(b"opaque text, never pairs")))
    df = spark.createDataFrame(rows, "doc_id long, media binary")

    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in media_near_dups(
            df, "image", max_hamming=7, n_bands=8
        ).collect()
    )
    hashes = {
        d: dhash(img) & ((1 << 64) - 1) for d, img in fixtures.items()
    }
    ids = sorted(hashes)
    want = sorted(
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 7
    )
    assert got == want, (got[:5], want[:5])
    # every perturbed copy must actually pair with its base
    paired = {(a, b) for a, b, _ in got}
    for b in range(6):
        assert (2 * b + 1, 2 * b + 2) in paired, (b, got)
    assert all(99 not in (a, b) for a, b in paired)


def test_image_near_dups_plan_is_merge_banded(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    rows = []
    for d in range(8):
        img = rng.randint(0, 255, size=(16, 16)).astype(np.uint8)
        payload = [bytes(img[r]) for r in range(16)]
        rows.append((d, bytearray(_p5(16, 16, payload))))
    # one exact duplicate so at least one pair survives: the round-15
    # single-join pairing lets AQE's empty-relation propagation replace
    # a no-pair plan with EmptyRelation, which would make the join-
    # strategy assertions below vacuous
    rows.append((8, bytearray(rows[0][1])))
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = media_near_dups(df, "image")
    assert out.collect(), "expected the planted duplicate image to pair"
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final
    assert "BroadcastHashJoin" not in final
    assert "CartesianProduct" not in final


def _make_avi(frames):
    """Minimal MJPEG-in-AVI: RIFF('AVI ' LIST('hdrl') LIST('movi'
    00dc…)) with word-aligned chunks, independent of the demuxer."""
    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    movi = chunk(b"LIST", b"movi" + b"".join(
        chunk(b"00dc", f) for f in frames
    ))
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", b"\x00" * 56))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + len(payload).to_bytes(4, "little") + payload


def _make_y4m(w, h, lumas, cs=b"C420jpeg", frame_params=b""):
    """Minimal YUV4MPEG2 stream, independent of the demuxer: ASCII
    stream header, then FRAME marker + raw planar picture per entry
    (constant luma plane, chroma planes filled with 128)."""
    if cs.startswith(b"C420"):
        chroma = 2 * ((w + 1) // 2) * ((h + 1) // 2)
    elif cs == b"C422":
        chroma = 2 * ((w + 1) // 2) * h
    elif cs == b"C444":
        chroma = 2 * w * h
    else:  # Cmono or exotic — caller's problem, zero chroma bytes
        chroma = 0
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 %s\n" % (w, h, cs)
    for v in lumas:
        out += b"FRAME" + frame_params + b"\n"
        out += bytes([v]) * (w * h) + bytes([128]) * chroma
    return out


def test_y4m_demuxer_colorspaces_and_degradations():
    """Plane geometry per colorspace tag, and every malformed shape
    degrades to None (the stub path) instead of raising — the 100 TB
    mixed-corpus contract."""
    demux = multimodal._y4m_demuxer()

    # every honestly-covered colorspace walks to the same luma planes
    for cs in (b"C420jpeg", b"C420mpeg2", b"C420paldv", b"C422",
               b"C444", b"Cmono"):
        frames = demux(_make_y4m(6, 4, [10, 200], cs=cs))
        assert frames is not None and len(frames) == 2, cs
        assert frames[0] == b"P5\n6 4\n255\n" + bytes([10]) * 24, cs
        assert frames[1].endswith(bytes([200]) * 24), cs

    # colorspace default (no C tag) is 420jpeg
    explicit = _make_y4m(4, 4, [99])
    no_tag = explicit.replace(b" C420jpeg", b"", 1)
    assert demux(no_tag) == demux(explicit)

    good = _make_y4m(4, 4, [50, 60])
    assert demux(good[: len(good) - 3]) is None      # truncated picture
    assert demux(good.replace(b"FRAME", b"FRAMX", 1)) is None  # desync
    assert demux(good.replace(b" H4", b"", 1)) is None         # no H
    assert demux(good.replace(b"W4", b"Wx", 1)) is None        # bad int
    assert demux(_make_y4m(4, 4, [1], cs=b"C420p10")) is None  # 10-bit
    assert demux(b"YUV4MPEG2 W4 H4" + b" " * 5000) is None     # no newline
    # geometry bomb: header claims 2^13 x 2^13 (> 2^24 samples)
    assert demux(b"YUV4MPEG2 W8192 H8192 C420jpeg\n") is None
    assert demux(b"not a y4m stream") is None


def test_decode_jpeg_fill_bytes_before_marker(spark):
    """Legal 0xFF fill bytes before a marker (JPEG B.1.1.2) must not
    desync the marker walk — one fill byte (odd run) before DQT
    previously made the whole stream degrade to opaque."""
    import numpy as np

    parse = multimodal._media_parser()
    jpg = _make_jpeg(16, 16, [np.full((16, 16), 90.0)], [(1, 1)])
    i = jpg.index(b"\xff\xdb")
    for fill in (b"\xff", b"\xff\xff\xff"):
        padded = jpg[:i] + fill + jpg[i:]
        n, _, kind, w, h, mean = parse(padded)
        assert (kind, w, h, mean) == ("jpeg", 16, 16, 90.0), (fill, kind)


def test_image_near_dups_exact_mode_single_band(spark):
    """max_hamming=0 / n_bands=1 — exact-duplicate pairing over the
    full-width 64-bit hash — must run (the 2^64-1 mask literal
    previously parsed as DECIMAL and crashed the `&`)."""
    import numpy as np

    rng = np.random.RandomState(9)
    img = rng.randint(0, 255, size=(16, 16)).astype(np.uint8)
    payload = [bytes(img[r]) for r in range(16)]
    other = rng.randint(0, 255, size=(16, 16)).astype(np.uint8)
    rows = [
        (1, bytearray(_p5(16, 16, payload))),
        (2, bytearray(_p5(16, 16, payload))),   # exact duplicate
        (3, bytearray(_p5(16, 16, [bytes(other[r]) for r in range(16)]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in media_near_dups(
            df, "image", max_hamming=0, n_bands=1
        ).collect()
    ]
    assert got == [(1, 2, 0)], got


def test_spread_small_scan_memoizes_partition_probe(spark, monkeypatch):
    """The spread decision is memoized on the analyzed plan's semantic
    hash (round 16): probing df.rdd.getNumPartitions() forces physical
    planning — 0.1 s per fresh scan, multi-second on a deep lineage —
    and builders rebuild semantically identical plans every call, so a
    repeat call must NOT re-plan.  The spread itself still fires: a
    one-partition input comes back at the cores/4 target."""
    import etl_olho_vivo_spark.operators.dedup as dd

    def narrow():
        return spark.range(0, 10, 1, 1).selectExpr(
            "cast(id AS string) AS text"
        )

    dd._SPREAD_MEMO.clear()
    probes = []
    cls = type(narrow())  # the concrete DataFrame class (Spark 4 facade)
    orig = cls.rdd.func  # rdd is a cached_property on the classic class
    monkeypatch.setattr(
        cls,
        "rdd",
        property(lambda self: (probes.append(1), orig(self))[1]),
    )

    out = dd.spread_small_scan(narrow())
    n_first = len(probes)
    assert n_first >= 1  # the first call probes
    dd.spread_small_scan(narrow())  # same semantic plan, fresh object
    assert len(probes) == n_first, "repeat call re-planned the input"
    monkeypatch.undo()
    target = max(2, spark.sparkContext.defaultParallelism // 4)
    assert out.rdd.getNumPartitions() == target
    # a wide-enough input is returned untouched (and also memoized)
    wide = spark.range(0, 100, 1, target).selectExpr(
        "cast(id AS string) AS text"
    )
    assert dd.spread_small_scan(wide) is wide
