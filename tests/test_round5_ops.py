"""Round-5 entry semantics: sketch edge cases (KMV exact-below-k, HLL
register mergeability and in-range accuracy), importance-resampling target
affinity and winsorization cut-element selection.

The oracle-parity suite value-hash-compares these entries on the real
testdata; these tests pin behaviors the testdata may never exercise (tiny
cardinalities, adversarial outliers)."""

from __future__ import annotations

import datetime

import pandas as pd

from pyspark.sql import functions as F

import gmall_spark.extras.queries  # noqa: F401  (registers the extras entries)
import gmall_spark.streaming.queries  # noqa: F401  (registers streaming entries)
from gmall_spark.queries import QUERIES


def _write_events(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


T0 = datetime.datetime(2024, 1, 1, 0, 0)


def test_kmv_exact_below_k(spark, tmp_path):
    """A sketch with fewer than k members IS the distinct set — the estimate
    must equal the exact count, not the (k-1)/h_k formula."""
    sf = _write_events(
        tmp_path,
        [(i, T0, 100 + (i % 7), "view", 1.0, "{}") for i in range(40)],
    )
    out = {r["scope"]: r for r in QUERIES["kmv_distinct"](spark, sf).collect()}
    assert out["view"]["kmv_est"] == 7 == out["view"]["exact_ct"]
    assert out["__ALL__"]["kmv_est"] == 7


def test_kmv_estimate_tracks_large_cardinality(spark, tmp_path):
    """Above k members the (k-1)/h_k estimator applies; for 5000 uniform
    distinct keys it must land within ±40% (k=64 ⇒ σ≈1/√62≈13%)."""
    sf = _write_events(
        tmp_path,
        [(i, T0, i, "view", 1.0, "{}") for i in range(5000)],
    )
    out = {r["scope"]: r for r in QUERIES["kmv_distinct"](spark, sf).collect()}
    est = out["view"]["kmv_est"]
    assert 3000 <= est <= 7000, est


def test_hll_union_is_max_merge_and_in_range(spark, tmp_path):
    """Two disjoint user populations in two event types: the __ALL__ row must
    estimate the UNION (≈ n1+n2), not the sum of estimates or either part.
    5000 distinct keys with m=256 registers is the raw-HLL regime
    (n > 2.5m), where the estimator's σ ≈ 1.04/√256 ≈ 6.5%."""
    rows = [(i, T0, i, "view", 1.0, "{}") for i in range(2500)]
    rows += [(10_000 + i, T0, 50_000 + i, "click", 1.0, "{}") for i in range(2500)]
    sf = _write_events(tmp_path, rows)
    out = {r["scope"]: r for r in QUERIES["hll_union_estimate"](spark, sf).collect()}
    assert abs(out["__ALL__"]["hll_est"] - 5000) < 1000, out["__ALL__"]
    # the union's harmonic denominator can only shrink (registers only grow)
    assert out["__ALL__"]["harmonic_scaled"] <= out["view"]["harmonic_scaled"]
    assert out["__ALL__"]["hll_est"] >= max(
        out["view"]["hll_est"], out["click"]["hll_est"]
    )


def test_importance_resample_prefers_target_like_docs(spark, tmp_path):
    """Raw docs sharing the target domain's vocabulary must outrank raw docs
    with disjoint vocabulary. src0/src5/... are the target slice."""
    target_text = "quantum flux capacitor resonance " * 10
    offdomain = "mundane laundry grocery errand " * 10
    rows = [(i, target_text, "en", "src0", 100) for i in range(4)]  # target pool
    rows += [(100, target_text, "en", "src1", 100)]  # raw, target-like
    rows += [(101 + i, offdomain, "en", "src2", 100) for i in range(3)]  # raw, off-domain
    sf = _write_docs(tmp_path, rows)
    out = QUERIES["importance_resample"](spark, sf).collect()
    by_rank = sorted(out, key=lambda r: r["rnk"])
    assert by_rank[0]["doc_id"] == 100
    # target-like doc scores strictly higher: num/den ratio must dominate
    top, rest = by_rank[0], by_rank[1]
    assert top["num"] * rest["den"] > rest["num"] * top["den"]


def test_winsorize_picks_exact_elements_and_clips_outliers(spark, tmp_path):
    """100 rows of value=1..100: cut indexes (n+99)//100=1 and
    (99n+99)//100=99 select elements 1.0 and 99.0; the single 100.0 row is
    clipped down, the sum is Σ1..99 + 99."""
    sf = _write_events(
        tmp_path,
        [(i, T0, 1, "view", float(i), "{}") for i in range(1, 101)],
    )
    row = QUERIES["winsorize_stats"](spark, sf).collect()[0]
    assert row["p01"] == 1.0 and row["p99"] == 99.0
    assert row["clipped_ct"] == 1  # only 100.0 falls outside [1, 99]
    assert abs(row["winsorized_sum"] - (sum(range(1, 100)) + 99)) < 1e-9


def test_streaming_decontaminate_matches_batch_gate(spark, tmp_path):
    """The streaming intake gate must flag exactly the docs whose 13-gram
    sets intersect the benchmark slice — including a doc shorter than 13
    tokens whose (clamped) whole text appears in a benchmark doc."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    clean = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    rows = [
        (0, bench_text, "en", "src0", 99),   # doc_id % 7 == 0 → benchmark
        (1, bench_text, "en", "src1", 99),   # contaminated copy
        (2, clean, "en", "src2", 99),        # clean
    ]
    sf = _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r["hit_ct"] for r in QUERIES["streaming_decontaminate"](spark, sf).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_token_fertility_integer_ratios(spark, tmp_path):
    """chars_per_word_token_x1000 is floor(chars*1000/word_tokens); a group
    with zero word-regex tokens yields NULL, not an error."""
    rows = [
        (1, "abc def", "en", "srcA", 7),       # 7 chars, 2 word tokens
        (2, "ghij kl", "en", "srcA", 7),       # 7 chars, 2 word tokens
        (3, "123 456 789", "nb", "srcB", 11),  # no [a-z]+ tokens at all
    ]
    sf = _write_docs(tmp_path, rows)
    out = {(r["source"], r["lang"]): r for r in QUERIES["token_fertility"](spark, sf).collect()}
    a = out[("srcA", "en")]
    assert (a["chars_total"], a["ws_tokens"], a["word_tokens"]) == (14, 4, 4)
    assert a["chars_per_word_token_x1000"] == 14 * 1000 // 4
    assert out[("srcB", "nb")]["chars_per_word_token_x1000"] is None


def test_dedup_cross_source_pair_combinatorics(spark, tmp_path):
    """2 copies in srcA + 3 in srcB of the same 25-token prefix: within-A
    C(2,2)=1, within-B C(3,2)=3, across A×B 2·3=6. Source pair is ordered
    (source_a < source_b) so the matrix has no mirror rows."""
    text = " ".join(f"w{i}" for i in range(30))
    rows = [(i, text + f" tail{i}", "en", "srcA", 99) for i in range(2)]
    rows += [(10 + i, text + f" other{i}", "en", "srcB", 99) for i in range(3)]
    rows += [(99, "totally different words here", "en", "srcC", 28)]
    sf = _write_docs(tmp_path, rows)
    out = {
        (r["source_a"], r["source_b"]): r["dup_pair_ct"]
        for r in QUERIES["dedup_cross_source"](spark, sf).collect()
    }
    assert out == {("srcA", "srcA"): 1, ("srcB", "srcB"): 3, ("srcA", "srcB"): 6}
