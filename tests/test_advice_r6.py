"""Round-6 ADVICE hardening (ADVICE.md r5 items):

- parse_warc_bytes must quarantine a record whose Content-Length
  promises more payload bytes than remain in the file (truncated tail)
  as corrupt_reason='truncated_payload' with the byte count actually
  present — never yield it as a silently-short clean row.
- nb_binary_auc must return the defined sentinel auc_e6 = -1 (not an
  empty/NULL result) when a single training class empties the
  best-other join or when n_pos/n_neg is zero; nb_reliability must
  emit the (margin_bin=-1, 0, 0) sentinel row instead of an empty
  table in the single-class case.
- psi_drift's Laplace-smoothed probabilities are e12 fixed-point via a
  DECIMAL(38,0) product, so a smoothed bin cannot floor to zero (and
  saturate the log term at L(0) = -1000) until a slice exceeds ~1e12
  rows — the old e6 scale saturated at ~1e6*bins rows.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spark_cassandra_collabfiltering_spark.operators import aggregates as ag  # noqa: E402
from spark_cassandra_collabfiltering_spark.ml import textmodels as tm  # noqa: E402
from spark_cassandra_collabfiltering_spark.sources.warc_source import (  # noqa: E402
    parse_warc_bytes,
)

CRLF = b"\r\n"


def _warc_record(cl: int | None, payload: bytes) -> bytes:
    body = b"WARC/1.0" + CRLF + b"WARC-Type: response" + CRLF
    n = len(payload) if cl is None else cl
    body += b"Content-Length: " + str(n).encode() + CRLF + CRLF
    return body + payload + CRLF + CRLF


# ---------------------------------------------------------------------------
# WARC truncated-payload quarantine
# ---------------------------------------------------------------------------

def test_warc_truncated_tail_quarantines():
    good = _warc_record(None, b"hello world payload")
    # header claims 4096 bytes; only a short fragment follows, no
    # trailing record separator — the file just stops
    bad = (
        b"WARC/1.0" + CRLF + b"WARC-Type: response" + CRLF
        + b"Content-Length: 4096" + CRLF + CRLF + b"cut off mid-"
    )
    rows = list(parse_warc_bytes(good + bad, file="t"))
    assert len(rows) == 2
    assert rows[0]["corrupt_reason"] is None
    assert rows[0]["n_payload_bytes"] == len(b"hello world payload")
    q = rows[1]
    assert q["corrupt_reason"] == "truncated_payload"
    # the ACTUAL bytes present, not the promised Content-Length
    assert q["n_payload_bytes"] == len(b"cut off mid-")
    # header block preserved for replay (the quarantine discipline)
    assert "Content-Length: 4096" in q["body"]


def test_warc_exact_fit_tail_is_clean():
    # payload exactly fills the remaining bytes (no trailing CRLFCRLF):
    # not truncated — must stay a clean row
    payload = b"exactly sized body"
    rec = (
        b"WARC/1.0" + CRLF + b"WARC-Type: response" + CRLF
        + b"Content-Length: " + str(len(payload)).encode() + CRLF + CRLF
        + payload
    )
    rows = list(parse_warc_bytes(rec, file="t"))
    assert len(rows) == 1
    assert rows[0]["corrupt_reason"] is None
    assert rows[0]["n_payload_bytes"] == len(payload)


def test_committed_fixture_has_truncated_plant():
    fx = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "sample.warc",
    )
    with open(fx, "rb") as fh:
        rows = list(parse_warc_bytes(fh.read(), file="sample.warc"))
    reasons = [r["corrupt_reason"] for r in rows]
    assert "truncated_payload" in reasons
    assert "bad_content_length" in reasons


# ---------------------------------------------------------------------------
# NB degenerate-case sentinels
# ---------------------------------------------------------------------------

def _single_class_docs(spark):
    rows = [
        (f"d{i}", "en", "the quick brown fox jumps over the lazy dog " * 3)
        for i in range(20)
    ]
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def test_nb_binary_auc_single_class_sentinel(spark):
    out = tm.nb_binary_auc(_single_class_docs(spark), pos_label="en").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pos"] == 0 and r["n_neg"] == 0
    assert r["auc_e6"] == -1  # defined sentinel, never NULL/empty


def test_nb_binary_auc_absent_pos_label_sentinel(spark):
    # two classes but the requested pos_label never wins -> n_pos = 0
    rows = [("a%d" % i, "de", "der die das und ist nicht " * 4) for i in range(10)]
    rows += [("b%d" % i, "fr", "le la les et est pas " * 4) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = tm.nb_binary_auc(docs, pos_label="zz").collect()
    assert len(out) == 1
    assert out[0]["auc_e6"] == -1


def test_nb_reliability_single_class_sentinel_row(spark):
    out = tm.nb_reliability(_single_class_docs(spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["margin_bin"], r["n_docs"], r["n_correct"]) == (-1, 0, 0)


def test_nb_reliability_normal_case_unchanged(spark):
    rows = [("a%d" % i, "de", "der die das und ist nicht " * 4) for i in range(12)]
    rows += [("b%d" % i, "fr", "le la les et est pas " * 4) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = tm.nb_reliability(docs).collect()
    assert out, "non-degenerate corpus must produce margin bins"
    assert all(r["margin_bin"] >= 0 for r in out)  # no sentinel leaks in


# ---------------------------------------------------------------------------
# PSI e12 probabilities: no zero-floor saturation at large n
# ---------------------------------------------------------------------------

def test_psi_smoothed_bins_do_not_floor_at_large_n(spark):
    # Two identical distributions except a mass shift into bin 0 for
    # side b. With counts scaled so n >> 1e6*bins, the old e6 scale
    # floored every smoothed p to 0 and reported psi_e9 = 0; the e12
    # scale must report a strictly positive PSI.
    # Simulate large-n by feeding pre-binned weighted rows: psi_drift
    # takes raw rows, so build a modest frame whose HISTOGRAM matches a
    # huge corpus via explode of per-bin counts — 40 values repeated.
    import pyspark.sql.functions as SF

    # a: uniform over 4 bins; b: skewed. Use value domain [0, 4).
    a = spark.range(0, 4).select(
        SF.explode(SF.array_repeat((SF.col("id") + 0.5), 2500)).alias("v")
    )
    b = spark.range(0, 4).select(
        SF.explode(
            SF.array_repeat(
                (SF.col("id") + 0.5),
                10,
            )
        ).alias("v")
    ).where(SF.col("v") > 1).union(
        spark.range(1).select(
            SF.explode(SF.array_repeat(SF.lit(0.5), 9970)).alias("v")
        )
    )
    out = ag.psi_drift(a, b, "v", lo=0.0, hi=4.0, bins=4).collect()[0]
    assert out["psi_e9"] > 0
    # largest (p-q)*log-ratio term: bin 1, which b emptied (its q is
    # smoothing-only, so the log ratio is the table's largest)
    assert out["top_bin"] == 1


def test_psi_identical_slices_zero(spark):
    a = spark.range(0, 1000).selectExpr("cast(id % 10 as double) as v")
    b = spark.range(0, 1000).selectExpr("cast(id % 10 as double) as v")
    out = ag.psi_drift(a, b, "v", lo=0.0, hi=10.0, bins=10).collect()[0]
    assert out["psi_e9"] == 0


# ---------------------------------------------------------------------------
# ja/zh kana-presence prior (round-6: closes the kanji-heavy-ja gap)
# ---------------------------------------------------------------------------

def test_lang_id_kanji_heavy_ja_with_kana_particles(spark):
    from spark_cassandra_collabfiltering_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            # han dominates, kana is particles only -> must be ja now
            (1, "東京都市計画道路建設工事の完了報告書です"),
            (2, "新幹線高速鉄道網整備計画が国会審議を通過した"),
            # genuine Chinese: zero kana anywhere -> stays zh
            (3, "这是中文测试文档没有假名只有汉字"),
            # kana-dominant ja unaffected
            (4, "これはにほんごのテストです。"),
            # mixed latin+kana: kana wins only if it is the max score
            (5, "the quick brown fox and the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in tx.lang_id(docs).collect()}
    assert got == {1: "ja", 2: "ja", 3: "zh", 4: "ja", 5: "en"}


def test_lang_id_raw_scores_unchanged_by_prior(spark):
    # the prior adjusts the ARGMAX only; emitted score columns stay raw
    from spark_cassandra_collabfiltering_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "東京都市計画の報告です")], ["doc_id", "text"]
    )
    row = tx.lang_id(docs).collect()[0]
    assert row["score_zh"] > 0  # raw han count still reported
    assert row["score_ja"] > 0
    assert row["pred_lang"] == "ja"


# ---------------------------------------------------------------------------
# LSH advisor: fixed-point S-curve matches the float model (round 6)
# ---------------------------------------------------------------------------

def test_lsh_advisor_curve_matches_float_model(spark):
    import spark_cassandra_collabfiltering_spark.plans.queries as Q

    rows = Q.QUERIES["dedup_lsh_advisor"].builder(spark, "x").collect()
    assert len(rows) == 5 * 19  # five splits x 19 grid points
    for r in rows:
        s = r["s_e6"] / 1e6
        want = 1.0 - (1.0 - s ** r["rows_per_band"]) ** r["bands"]
        got = r["p_cand_e6"] / 1e6
        # chained floor-multiplies drift by < (b + r) ULPs of 1e-6 in
        # either direction (flooring s^r pushes p_cand down; flooring
        # the (1-s^r)^b chain pushes it up)
        assert abs(got - want) <= 5e-4, (r, want)
    chosen = {(r["bands"], r["rows_per_band"]) for r in rows if r["chosen"]}
    assert chosen == {(16, 1)}  # only split clearing 0.9 recall at t=0.40


def test_lsh_advisor_monotone_in_similarity(spark):
    import spark_cassandra_collabfiltering_spark.plans.queries as Q

    rows = Q.QUERIES["dedup_lsh_advisor"].builder(spark, "x").collect()
    by_split = {}
    for r in rows:
        by_split.setdefault((r["bands"], r["rows_per_band"]), []).append(
            (r["s_e6"], r["p_cand_e6"])
        )
    for pts in by_split.values():
        ys = [y for _, y in sorted(pts)]
        assert ys == sorted(ys)  # S-curve is monotone non-decreasing
