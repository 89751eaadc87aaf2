"""Corpus data card (operators/datacard.py, round 13): exact
per-dimension counts from ONE grouping-sets aggregation, the integer
length-bucket ladder, the JSON artifact, and the CLI wiring.  Oracle
parity for ``corpus_datacard`` rides the registry sweep
(tests/test_oracle_parity.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators import datacard as dc
from tests.plan_walk import count_nodes, optimized_plan

ROWS = [
    # (doc_id, text, lang, source) — token counts 1, 2, 4, 5, 8
    (1, "alpha", "en", "web"),
    (2, "alpha beta", "en", "web"),
    (3, "a b c d", "en", "books"),
    (4, "w x y z q", "de", "web"),
    (5, "one two three four five six seven eight", "de", "code"),
]
SCHEMA = ["doc_id", "text", "lang", "source"]


def test_len_bucket_ladder_is_exact_floor_log2():
    """The ladder equals floor(log2(n)) at and around every power of
    two (the boundaries where a libm log2 could betray parity), and
    the top bucket absorbs the overflow."""
    import math

    expr = dc.len_bucket_sql("n")
    # evaluate the generated CASE ladder in pure Python
    def ladder(n):
        for b in range(dc.MAX_LEN_BUCKET, 0, -1):
            if n >= 2 ** b:
                return b
        return 0

    assert f"WHEN (n) >= {2 ** dc.MAX_LEN_BUCKET}" in expr
    for n in [1, 2, 3, 4, 7, 8, 9, 1023, 1024, 1025]:
        assert ladder(n) == int(math.floor(math.log2(n))), n
    assert ladder(2 ** dc.MAX_LEN_BUCKET * 5) == dc.MAX_LEN_BUCKET


def test_corpus_stats_known_answer(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        (r["dim"], r["key"]): (r["docs"], r["tokens"], r["chars"])
        for r in dc.corpus_stats(df).collect()
    }
    chars = {i: len(t) for i, (_, t, _, _) in enumerate(ROWS, 1)}
    assert got[("total", "all")] == (5, 20, sum(chars.values()))
    assert got[("lang", "en")] == (3, 7, chars[1] + chars[2] + chars[3])
    assert got[("lang", "de")] == (2, 13, chars[4] + chars[5])
    assert got[("source", "web")] == (3, 8, chars[1] + chars[2] + chars[4])
    assert got[("source", "books")] == (1, 4, chars[3])
    assert got[("source", "code")] == (1, 8, chars[5])
    # token counts 1,2,4,5,8 -> buckets 0,1,2,2,3
    assert got[("len_bucket", "0")][0] == 1
    assert got[("len_bucket", "1")][0] == 1
    assert got[("len_bucket", "2")][0] == 2
    assert got[("len_bucket", "3")][0] == 1
    # exactly the four grouping sets, nothing cross-dimensional
    assert {d for d, _ in got} == {"total", "lang", "source", "len_bucket"}


def test_corpus_stats_single_expand_plan(spark):
    """The card is ONE grouping-sets job: exactly one Expand in the
    optimized plan (the naive per-dimension form re-scans the corpus
    once per dim and unions), and the text column is projected away
    before the Expand (slim rows multiply, not documents)."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    nodes = count_nodes(optimized_plan(dc.corpus_stats(df)))
    assert nodes["Expand"] == 1, nodes
    assert nodes["Union"] == 0, nodes


def test_datacard_dict_and_fractions(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    card = dc.datacard(df)
    assert card["docs"] == 5 and card["tokens"] == 20
    assert card["by"]["lang"]["en"]["docs"] == 3
    assert card["by"]["lang"]["en"]["doc_frac"] == 0.6
    assert card["by"]["source"]["web"]["token_frac"] == round(8 / 20, 6)
    assert card["len_log2_histogram"] == {"0": 1, "1": 1, "2": 2, "3": 1}
    assert "quality_deciles" not in card
    scored = df.withColumn("q", F.col("doc_id") / 10.0)
    deciles = dc.datacard(scored, quality_col="q")["quality_deciles"]
    assert deciles["p0"] == 0.1 and deciles["p100"] == 0.5


def test_write_datacard_validates_columns(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    corpus = str(tmp_path / "corpus")
    df.write.parquet(corpus)
    with pytest.raises(ValueError, match="lacks column"):
        dc.write_datacard(spark, corpus, str(tmp_path / "c.json"),
                          dims=("lang", "nope"))
    with pytest.raises(ValueError, match="quality column"):
        dc.write_datacard(spark, corpus, str(tmp_path / "c.json"),
                          quality_col="q")


@pytest.mark.sweep
def test_datacard_cli_roundtrip(spark, tmp_path, capsys):
    from etl_olho_vivo_spark.__main__ import main

    df = spark.createDataFrame(ROWS, SCHEMA)
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "card.json")
    df.write.parquet(corpus)
    rc = main([
        "datacard", "--in", corpus, "--out", out,
    ])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["docs"] == 5 and line["tokens"] == 20
    card = json.load(open(out))
    assert card["by"]["source"]["code"]["tokens"] == 8


@pytest.mark.sweep
def test_corpus_cli_emits_datacard(spark, tmp_path, capsys):
    """--datacard on the corpus pipeline writes the SHIPPED corpus'
    card beside it: counts match the written parquet exactly, dims are
    the corpus schema's, quality deciles ride along."""
    from etl_olho_vivo_spark.__main__ import main

    out = str(tmp_path / "clean")
    rc = main([
        "corpus", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        "--min-tokens", "3", "--datacard",
    ])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["datacard"] == out + "_card.json"
    card = json.load(open(line["datacard"]))
    back = spark.read.parquet(out)
    assert card["docs"] == back.count()
    assert card["tokens"] == line["datacard_tokens"] > 0
    assert set(card["by"]) == {"lang_guess", "source"}
    assert "quality_deciles" in card
    # per-language docs in the card == per-partition counts on disk
    by_lang = {
        r["lang_guess"]: r["n"]
        for r in back.groupBy("lang_guess").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert {k: v["docs"] for k, v in card["by"]["lang_guess"].items()} \
        == by_lang


def _mini_card(by_lang, by_source, total_tokens, total_docs, hist):
    def entry(docs, tokens):
        return {"docs": docs, "tokens": tokens, "chars": tokens * 5,
                "doc_frac": round(docs / total_docs, 6),
                "token_frac": round(tokens / total_tokens, 6)}
    return {
        "docs": total_docs, "tokens": total_tokens,
        "chars": total_tokens * 5,
        "by": {"lang": {k: entry(*v) for k, v in by_lang.items()},
               "source": {k: entry(*v) for k, v in by_source.items()}},
        "len_log2_histogram": hist,
    }


def test_diff_datacards_drift_report():
    """Pure-dict drift math: totals, arrivals/departures, token-share
    shifts computed against each card's OWN total (meaningful under
    growth), top_shifts ranked by absolute share movement."""
    old = _mini_card({"en": (8, 80), "de": (2, 20)},
                     {"web": (10, 100)}, 100, 10, {"3": 10})
    new = _mini_card({"en": (12, 90), "fr": (8, 110)},
                     {"web": (14, 120), "code": (6, 80)},
                     200, 20, {"3": 15, "4": 5})
    d = dc.diff_datacards(old, new)
    assert d["totals"]["tokens"] == {
        "old": 100, "new": 200, "delta": 100, "rel": 1.0}
    assert d["by"]["lang"]["added"] == ["fr"]
    assert d["by"]["lang"]["removed"] == ["de"]
    # en: 80/100 -> 90/200 = share shift -0.35 despite +10 tokens
    en = d["by"]["lang"]["keys"]["en"]
    assert en["tokens_delta"] == 10
    assert en["token_frac_shift"] == -0.35
    assert d["len_log2_histogram"] == {"3": 5, "4": 5}
    # the biggest absolute share movers lead
    top = [(s["dim"], s["key"]) for s in d["top_shifts"]]
    assert top[0] == ("lang", "fr")       # 0 -> 0.55
    assert ("lang", "en") in top and ("source", "code") in top
    shifts = [abs(s["token_frac_shift"]) for s in d["top_shifts"]]
    assert shifts == sorted(shifts, reverse=True)


def test_datacard_diff_cli_no_spark(tmp_path, capsys, monkeypatch):
    """datacard-diff dispatches BEFORE the SparkSession factory — it
    must work with no Spark job at all and write the full diff."""
    import etl_olho_vivo_spark.session as session

    def no_spark(*args, **kwargs):
        raise AssertionError("datacard-diff started a SparkSession")

    monkeypatch.setattr(session, "get_spark", no_spark)
    old = _mini_card({"en": (5, 50)}, {"web": (5, 50)}, 50, 5, {"3": 5})
    new = _mini_card({"en": (6, 80)}, {"web": (6, 80)}, 80, 6, {"3": 6})
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    out = tmp_path / "diff.json"

    from etl_olho_vivo_spark.__main__ import main

    rc = main(["datacard-diff", "--old", str(po), "--new", str(pn),
               "--out", str(out)])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["totals"]["docs"]["delta"] == 1
    full = json.loads(out.read_text())
    assert full["totals"]["tokens"]["rel"] == 0.6


def test_null_dim_values_get_sentinel_key(spark):
    """A NULL dimension value must become the NULL_KEY sentinel, not a
    None dict key — json.dump(sort_keys=True) cannot order None
    against str, so the r13 code crashed card emission on the first
    null lang (round-14 advisor finding)."""
    rows = ROWS + [(6, "nil lang doc", None, "web"),
                   (7, "x y", "en", None)]
    df = spark.createDataFrame(rows, SCHEMA)
    card = dc.datacard(df)
    json.dumps(card, sort_keys=True)  # the exact crash site
    assert card["docs"] == 7
    assert card["by"]["lang"][dc.NULL_KEY]["docs"] == 1
    assert card["by"]["source"][dc.NULL_KEY]["tokens"] == 2
    assert None not in card["by"]["lang"]


def test_null_dim_oracle_parity(spark):
    """The DuckDB oracle COALESCEs to the same sentinel (spelled
    chr(0) || 'null' — a literal NUL in a SQL string is a DuckDB
    parser error), so a corpus WITH nulls still hash-matches."""
    import duckdb

    from etl_olho_vivo_spark.registry_data import _datacard_oracle

    rows = ROWS + [(6, "nil lang doc", None, "web"),
                   (7, "x y", "en", None)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r["dim"], r["key"]): (r["docs"], r["tokens"], r["chars"])
        for r in dc.corpus_stats(df).collect()
    }
    con = duckdb.connect()
    try:
        con.register("documents", df.toPandas())
        want = {
            (d, k): (docs, toks, chars)
            for d, k, docs, toks, chars
            in con.execute(_datacard_oracle()).fetchall()
        }
    finally:
        con.close()
    assert got == want
    assert ("lang", dc.NULL_KEY) in got


def test_dims_with_spaces_hyphens_backticks(spark):
    """Dimension names flow from --dims into generated expressions;
    parquet allows spaces/hyphens (and backticks are legal Spark
    identifiers when doubled) — none may reach a SQL parser raw."""
    df = (
        spark.createDataFrame(ROWS, SCHEMA)
        .withColumnRenamed("lang", "lang code")
        .withColumnRenamed("source", "source-kind")
    )
    card = dc.datacard(df, dims=("lang code", "source-kind"))
    assert card["by"]["lang code"]["en"]["docs"] == 3
    assert card["by"]["source-kind"]["web"]["docs"] == 3
    weird = df.withColumnRenamed("lang code", "l`ng")
    assert dc.datacard(weird, dims=("l`ng",))["by"]["l`ng"]["de"]["docs"] == 2


def test_stats_store_midlife_undercount_is_loud(spark, tmp_path):
    """card_from_stats_store(corpus_dir=...) compares ingest_batch_id
    partition sets: a stats store enabled mid-life (missing batches)
    stamps the card partial=true + the missing ids + a backfill note
    instead of returning a silently-wrong total (r13 verdict #3)."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    corpus = str(tmp_path / "corpus")
    stats = str(tmp_path / "stats")
    parts = {bid: df.where(F.col("doc_id") % 3 == bid) for bid in (0, 1, 2)}
    for bid, part in parts.items():
        part.write.mode("overwrite").parquet(
            f"{corpus}/ingest_batch_id={bid}"
        )
        if bid != 0:  # stats enabled only from batch 1 on
            dc.corpus_stats(part).write.mode("overwrite").parquet(
                f"{stats}/ingest_batch_id={bid}"
            )
    card = dc.card_from_stats_store(spark, stats, corpus_dir=corpus)
    assert card["partial"] is True
    assert card["missing_batch_ids"] == ["0"]
    assert "write_datacard" in card["note"]
    # backfilling the missing batch clears the stamp and fixes totals
    dc.corpus_stats(parts[0]).write.mode("overwrite").parquet(
        f"{stats}/ingest_batch_id=0"
    )
    full = dc.card_from_stats_store(spark, stats, corpus_dir=corpus)
    assert "partial" not in full and "missing_batch_ids" not in full
    assert full["docs"] == 5


def test_diff_datacards_media_cards_fall_back_to_doc_share():
    """Media cards carry no token counts — the share shift falls back
    to doc_frac per entry pair (round 14); without it every media
    shift reported 0.0.  The field keeps its token_frac_shift name
    for schema stability (documented in diff_datacards)."""
    def mcard(by_decoded, total):
        return {"kind": "image", "docs": total, "by": {"decoded": {
            k: {"docs": d, "doc_frac": round(d / total, 6)}
            for k, d in by_decoded.items()}}}

    old = mcard({"true": 8, "false": 2}, 10)
    new = mcard({"true": 9, "false": 11}, 20)
    d = dc.diff_datacards(old, new)
    ent = d["by"]["decoded"]["keys"]
    assert ent["true"]["token_frac_shift"] == round(9 / 20 - 8 / 10, 6)
    assert ent["false"]["token_frac_shift"] == round(11 / 20 - 2 / 10, 6)
    assert d["top_shifts"][0] == {
        "dim": "decoded", "key": "false",
        "token_frac_shift": round(11 / 20 - 2 / 10, 6)}
    assert d["totals"]["docs"]["delta"] == 10
