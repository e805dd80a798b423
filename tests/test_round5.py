"""Round-5 batch: property-oracle contracts for the formerly
rows-only seeded trio (ann_ivf recall-vs-exact, iforest planted
outliers, similarity-groups invariants). Oracle parity runs in
tools/check_oracles.py; these tests pin the property SEMANTICS on
small real data and on adversarial constructions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def test_ann_ivf_emits_exact_topk_and_recall(spark):
    from anomalydetection_spark.queries import q_ann_ivf

    rows = {r["query_id"]: r for r in q_ann_ivf(spark, SF).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    for r in rows.values():
        ids = r["exact_top3"].split(",")
        assert len(ids) == 3 and all(i.isdigit() for i in ids)
        # a query vector is never its own neighbor
        assert str(r["query_id"]) not in ids
    # recall_ok is the overall-recall property — one verdict, all rows
    assert len({r["recall_ok"] for r in rows.values()}) == 1


def test_iforest_planted_outliers_isolated(spark):
    from anomalydetection_spark.queries import q_iforest_scores

    row = q_iforest_scores(spark, SF).collect()[0]
    assert row["n_planted"] == 8
    assert row["n_natural"] > 0
    assert row["planted_isolated"]
    assert row["planted_below_gate"]
    assert row["natural_frac_ok"]


def test_similarity_groups_invariants(spark):
    from anomalydetection_spark.queries import q_similarity_groups

    out = q_similarity_groups(spark, SF).collect()
    assert out, "at least one lang group expected"
    for r in out:
        assert r["cover_ok"], r
        assert r["groups_bounded_ok"], r
        assert r["exemplar_member_ok"], r
        assert 1 <= r["n_distinct_snippets"] <= r["n_rows"]


def test_similarity_groups_max_exemplar_equals_lang_max(spark):
    """Score-ordered greedy makes the top-score row an exemplar, so
    max(best_score) == max(score) per lang — the exact hash-compared
    value in the oracle contract."""
    from anomalydetection_spark.queries import _t, q_similarity_groups

    got = {
        r["lang"]: r["max_best_score"]
        for r in q_similarity_groups(spark, SF).collect()
    }
    want = {
        r["lang"]: round(float(r["mx"]), 2)
        for r in _t(spark, SF, "documents")
        .filter(F.col("doc_id") < 200)
        .groupBy("lang")
        .agg(F.max("n_chars").alias("mx"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# repair.py round-5 hardening: MG-bounded mode candidates (the cap the
# docstring promised), self-certifying exact fallback, and
# special-character column names through plan + apply (ADVICE items).
# ---------------------------------------------------------------------------

def test_repair_mode_mg_bounded_path_certifies(spark):
    from anomalydetection_spark.operators.repair import plan_repairs

    # heavy mode: 'a' holds 60% of non-nulls -> clears n/(k+1) floor
    rows = [("a",)] * 60 + [("b",)] * 25 + [("c",)] * 10 + [(None,)] * 5
    df = spark.createDataFrame(rows, "s string").repartition(4)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any fallback warning fails
        rules = plan_repairs(df, max_mode_candidates=8)
    (r,) = [x for x in rules if x.column == "s"]
    assert r.strategy == "fill_mode" and r.fill_value == "a"
    assert abs(r.confidence - 60 / 95) < 1e-6  # stored at 6dp


def test_repair_mode_flat_column_falls_back_exact(spark):
    from anomalydetection_spark.operators.repair import plan_repairs

    # near-uniform: 120 distinct values, k=4 -> nothing clears the
    # floor; the exact fallback must still find the true mode ('v007'
    # planted with 3 occurrences vs 1 each)
    rows = (
        [(f"v{i:03d}",) for i in range(120)]
        + [("v007",), ("v007",)]
        + [(None,)]
    )
    df = spark.createDataFrame(rows, "s string").repartition(6)
    with pytest.warns(UserWarning, match="Misra-Gries floor"):
        rules = plan_repairs(df, max_mode_candidates=4)
    (r,) = [x for x in rules if x.column == "s"]
    assert r.strategy == "fill_mode" and r.fill_value == "v007"


def test_repair_special_character_column_names(spark):
    from anomalydetection_spark.operators.repair import (
        apply_repairs,
        plan_repairs,
    )

    df = spark.createDataFrame(
        [(1.0, "x", 1.0), (None, None, None), (3.0, "x", 5.0)],
        ["order value", "select", "a`b"],  # space, reserved word, backtick
    )
    rules = plan_repairs(df)
    by_col = {r.column: r for r in rules}
    assert by_col["order value"].strategy == "fill_median"
    assert by_col["order value"].fill_value == "2.0"
    assert by_col["select"].fill_value == "x"
    assert by_col["a`b"].fill_value == "3.0"
    out = apply_repairs(df, rules).orderBy("order value").collect()
    assert [r["order value"] for r in out] == [1.0, 2.0, 3.0]
    assert [r["a`b"] for r in out] == [1.0, 3.0, 5.0]
    assert sorted(out, key=lambda r: r["__repaired"])[-1]["__repaired"] == [
        "a`b",
        "order value",
        "select",
    ]


def test_repair_cli_exit_code_on_failed_reconciliation(monkeypatch):
    """--repair must not exit 0 when the written output's repaired-cell
    count disagrees with the plan (ADVICE: CI callers key on the exit
    code; a corrupt write may not report success)."""
    import anomalydetection_spark.run as run_mod

    class _FakeSpark:
        def stop(self):
            pass

    monkeypatch.setattr(
        "anomalydetection_spark.session.get_spark",
        lambda **kw: _FakeSpark(),
    )
    results = [
        {"reconciled": False, "n_repaired_cells": 1},
        {"reconciled": True, "n_repaired_cells": 2},
    ]
    monkeypatch.setattr(
        run_mod, "repair_round", lambda spark, args, rid: results.pop(0)
    )
    argv = ["--docs", "/nope", "--out", "/tmp/x", "--repair"]
    assert run_mod.main(argv) == 3
    assert run_mod.main(argv) == 0


def test_dominance_check_identical_distributions_read_equal(
    spark, tmp_path
):
    """Two sources with byte-identical length distributions must read
    'equal', not 'a_shorter' (ADVICE: the >= comparisons give 16/16 on
    both sides for an exact tie)."""
    from anomalydetection_spark.queries import q_dominance_check

    rows = []
    for src in ("alpha", "beta"):
        for i in range(40):
            rows.append((len(rows), src, (i % 8) * 300))
    # and one genuinely shorter source
    for i in range(40):
        rows.append((len(rows), "gamma", 10))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r["source_a"], r["source_b"]): r["dominance"]
        for r in q_dominance_check(spark, d).collect()
    }
    assert out[("alpha", "beta")] == "equal"
    assert out[("alpha", "gamma")] == "b_shorter"
    assert out[("beta", "gamma")] == "b_shorter"


# ---------------------------------------------------------------------------
# round-5 statistical batch: BH FDR control, Page–Hinkley shift,
# Good–Turing coverage, Gini concentration, lead-lag xcorr — planted
# fixtures pin the SEMANTICS (oracle parity runs in check_oracles).
# ---------------------------------------------------------------------------

def _write_events(spark, tmp_path, rows):
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long,"
        " event_type string, value double, props string"
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_benjamini_hochberg_planted_spike_is_discovery(spark, tmp_path):
    from anomalydetection_spark.queries import q_benjamini_hochberg

    rows = []
    eid = 0
    for day in range(1, 29):
        # baseline alternates 10/12 events; day 15 gets 400 (z >> 35,
        # clearing even the conservative Chebyshev p-bound at m=28)
        n = 400 if day == 15 else (10 if day % 2 else 12)
        for k in range(n):
            rows.append(
                (eid, f"2026-02-{day:02d} 0{k % 9}:00:00", k, "click",
                 1.0, "{}")
            )
            eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["day"]: r for r in q_benjamini_hochberg(spark, d).collect()}
    assert out["2026-02-15"]["is_discovery"]
    assert out["2026-02-15"]["bh_rank"] == 1
    others = [r for day, r in out.items() if day != "2026-02-15"]
    assert not any(r["is_discovery"] for r in others)


def test_page_hinkley_detects_planted_shift(spark, tmp_path):
    from anomalydetection_spark.queries import q_page_hinkley

    rows = []
    eid = 0
    for h in range(96):
        # 'shifted': 5/hour for 2 days then 15/hour; 'steady': 5/hour
        for et, n in (("shifted", 5 if h < 48 else 15), ("steady", 5)):
            for k in range(n):
                rows.append(
                    (eid, f"2026-03-{1 + h // 24:02d} {h % 24:02d}:30:00",
                     k, et, 1.0, "{}")
                )
                eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in q_page_hinkley(spark, d).collect()}
    assert out["shifted"]["shift_detected"]
    assert out["shifted"]["n_alarm_hours"] > 0
    # the alarm must fire AFTER the shift point (hour index 48)
    first = out["shifted"]["first_alarm_hour"]
    assert first is not None and first >= out["steady"]["n_hours"] // 2
    assert not out["steady"]["shift_detected"]
    assert out["steady"]["n_alarm_hours"] == 0


def test_good_turing_counts_and_gini_extremes(spark, tmp_path):
    from anomalydetection_spark.queries import (
        q_gini_concentration,
        q_good_turing,
    )

    docs = []
    # 'uniform': 4 tokens each appearing twice -> no singletons,
    # gini 0 (all counts equal)
    docs.append((0, "aa bb cc dd", "en", "uniform", 11))
    docs.append((1, "aa bb cc dd", "en", "uniform", 11))
    # 'skewed': one dominant token + singletons
    docs.append((2, "zz zz zz zz zz zz zz zz qq", "en", "skewed", 26))
    docs.append((3, "rr ss", "en", "skewed", 5))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    gt = {r["source"]: r for r in q_good_turing(spark, d).collect()}
    assert gt["uniform"]["n_singletons"] == 0
    assert gt["uniform"]["unseen_mass"] == 0.0
    assert gt["uniform"]["coverage_ok"]
    assert gt["skewed"]["n_tokens"] == 11
    assert gt["skewed"]["n_singletons"] == 3  # qq, rr, ss
    assert abs(gt["skewed"]["unseen_mass"] - round(3 / 11, 4)) < 1e-9
    assert not gt["skewed"]["coverage_ok"]

    gi = {r["source"]: r for r in q_gini_concentration(spark, d).collect()}
    assert gi["uniform"]["gini"] == 0.0
    # skewed counts (1,1,1,8): G = 2*(1+2+3+32)/(4*11) - 5/4 = 0.4773
    assert abs(gi["skewed"]["gini"] - 0.4773) < 1e-4


def test_lead_lag_xcorr_finds_planted_lag(spark, tmp_path):
    from anomalydetection_spark.queries import q_lead_lag_xcorr

    rows = []
    eid = 0
    # views pulse every 5 hours; purchases echo the SAME pulse 2 hours
    # later -> best lag +2
    for h in range(120):
        nv = 12 if h % 5 == 0 else 2
        np_ = 12 if h % 5 == 2 else 2
        for k in range(nv):
            rows.append(
                (eid, f"2026-04-{1 + h // 24:02d} {h % 24:02d}:00:00",
                 k, "view", 1.0, "{}")
            )
            eid += 1
        for k in range(np_):
            rows.append(
                (eid, f"2026-04-{1 + h // 24:02d} {h % 24:02d}:00:00",
                 k, "purchase", 1.0, "{}")
            )
            eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["lag"]: r for r in q_lead_lag_xcorr(spark, d).collect()}
    assert len(out) == 13
    best = [r for r in out.values() if r["is_best_lag"]]
    assert len(best) == 1 and best[0]["lag"] == 2
    assert out[2]["xcorr"] > 0.9
    assert out[0]["xcorr"] < 0.5


# ---------------------------------------------------------------------------
# round-5 second statistical batch: Mann–Kendall, runs test, Zipf fit,
# interarrival CV, Chao1 richness.
# ---------------------------------------------------------------------------

def test_mann_kendall_monotone_vs_flat(spark, tmp_path):
    from anomalydetection_spark.queries import q_mann_kendall

    rows = []
    eid = 0
    for day in range(1, 29):
        # 'rising': strictly increasing daily volume; 'flat': constant
        for et, n in (("rising", 4 + day), ("flat", 10)):
            for k in range(n):
                rows.append(
                    (eid, f"2026-05-{day:02d} 10:00:00", k, et, 1.0,
                     "{}")
                )
                eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in q_mann_kendall(spark, d).collect()}
    r = out["rising"]
    assert r["s"] == 28 * 27 // 2  # every pair concordant
    assert r["trend"] == "increasing" and r["z"] > 1.96
    f = out["flat"]
    assert f["s"] == 0 and f["trend"] == "no_trend"
    # all-tied series: 18*Var collapses entirely via the tie term
    assert f["var_s_x18"] == 0 and f["z"] == 0.0


def test_runs_test_clumped_vs_alternating(spark, tmp_path):
    from anomalydetection_spark.queries import q_runs_test

    rows = []
    eid = 0
    for day in range(1, 29):
        # 'clumped': 14 low days then 14 high days -> 2 runs
        # 'alt': low/high alternating -> 28 runs
        for et, n in (
            ("clumped", 5 if day <= 14 else 20),
            ("alt", 5 if day % 2 else 20),
        ):
            for k in range(n):
                rows.append(
                    (eid, f"2026-06-{day:02d} 10:00:00", k, et, 1.0,
                     "{}")
                )
                eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in q_runs_test(spark, d).collect()}
    c = out["clumped"]
    assert c["n_runs"] == 2 and c["pattern"] == "clumped"
    a = out["alt"]
    assert a["n_runs"] == 28 and a["pattern"] == "oscillating"
    assert a["n1"] == 14 and a["n2"] == 14


def test_zipf_and_chao1_shapes(spark, tmp_path):
    from anomalydetection_spark.queries import (
        q_chao1_richness,
        q_zipf_fit,
    )

    docs = []
    # 'zipfy': frequencies 16,8,4,2,1 over 5 tokens (slope ~ -1.7 on
    # exact ranks); 'flat': 6 tokens x 4 each (slope 0)
    zipf_text = " ".join(
        ["w0"] * 16 + ["w1"] * 8 + ["w2"] * 4 + ["w3"] * 2 + ["w4"]
    )
    docs.append((0, zipf_text, "en", "zipfy", len(zipf_text)))
    flat_text = " ".join(f"t{i}" for i in range(6) for _ in range(4))
    docs.append((1, flat_text, "en", "flat", len(flat_text)))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    z = {r["source"]: r for r in q_zipf_fit(spark, d).collect()}
    assert z["zipfy"]["zipf_slope"] < -1.5
    assert z["zipfy"]["shape"] == "boilerplate_heavy"
    assert z["flat"]["zipf_slope"] == 0.0
    assert z["flat"]["shape"] == "flat_synthetic"

    c = {r["source"]: r for r in q_chao1_richness(spark, d).collect()}
    # zipfy: V=5, f1=1, f2=1 -> chao1 = 5 + 1/2 = 5.5
    assert c["zipfy"]["chao1"] == 5.5
    assert abs(c["zipfy"]["completeness"] - round(5 / 5.5, 4)) < 1e-9
    # flat: no singletons/doubletons -> chao1 == V, saturated
    assert c["flat"]["chao1"] == 6.0
    assert c["flat"]["vocab_saturated"]


def test_interarrival_cv_scheduled_vs_bursty(spark, tmp_path):
    from anomalydetection_spark.queries import q_interarrival_cv

    rows = []
    eid = 0
    # 'cron': exactly every 300s -> cv 0 ('scheduled')
    for i in range(200):
        t = 300 * i
        rows.append(
            (eid, f"2026-07-01 {t//3600:02d}:{(t//60)%60:02d}:{t%60:02d}",
             1, "cron", 1.0, "{}")
        )
        eid += 1
    # 'burst': 50 clusters of 4 events 1s apart, clusters 1200s apart
    for ci in range(50):
        base = 1200 * ci
        for j in range(4):
            t = base + j
            rows.append(
                (eid,
                 f"2026-07-0{1 + t//86400} "
                 f"{(t % 86400)//3600:02d}:{(t//60)%60:02d}:{t%60:02d}",
                 1, "burst", 1.0, "{}")
            )
            eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in q_interarrival_cv(spark, d).collect()}
    assert out["cron"]["cv"] == 0.0
    assert out["cron"]["process"] == "scheduled"
    assert out["burst"]["cv"] > 1.5
    assert out["burst"]["process"] == "bursty"


# ---------------------------------------------------------------------------
# round-5 embeddings-QA batch: dead dims, int8 quantization audit,
# duplicate vectors, centroid separation, anisotropy.
# ---------------------------------------------------------------------------

def _write_embeddings(spark, tmp_path, rows):
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


def test_dead_dimensions_and_quantization(spark, tmp_path):
    from anomalydetection_spark.queries import (
        q_dead_dimensions,
        q_embedding_quantization_error,
    )

    rows = []
    for i in range(80):
        # dim0 constant (dead), dim1 constant (dead), dims 2-3 alive
        rows.append(
            (i, [0.5, -1.0, float(i % 7), float((i * 3) % 11)], i % 2)
        )
    d = _write_embeddings(spark, tmp_path, rows)
    r = q_dead_dimensions(spark, d).collect()[0]
    assert r["n_dims"] == 4
    assert r["n_dead_dims"] == 2
    assert not r["no_dead_dims"]
    assert r["var_max"] > 0

    qz = q_embedding_quantization_error(spark, d).collect()[0]
    assert qz["n_cells"] == 320
    # 255 levels over ranges <= 11 -> max error <= range/510 ~ 0.022
    assert qz["max_abs_err"] <= 0.025
    assert qz["int8_safe"]


def test_duplicate_vectors_planted(spark, tmp_path):
    from anomalydetection_spark.queries import q_duplicate_vectors

    base = [0.25, -0.5, 1.0, 0.125]
    rows = [(0, base, 0), (1, base, 1), (2, base, 0)]  # triple dup
    # differs at 1e-5 — above the operator's 1e-6 resolution, so NOT
    # grouped (a 1e-7 difference would be, by design)
    rows += [(3, [0.25, -0.5, 1.0, 0.12501], 0)]
    rows += [(i, [float(i), 0.0, 0.0, 0.0], 0) for i in range(4, 10)]
    d = _write_embeddings(spark, tmp_path, rows)
    out = q_duplicate_vectors(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_members"] == 3
    assert out[0]["exemplar_vec_id"] == 0


def test_centroid_separation_and_anisotropy(spark, tmp_path):
    import math
    import random

    from anomalydetection_spark.queries import (
        q_anisotropy_audit,
        q_label_centroid_separation,
    )

    rng = random.Random(7)
    rows = []
    # two tight, far-apart clusters -> well separated
    for i in range(60):
        lab = i % 2
        center = 10.0 if lab else -10.0
        rows.append(
            (i, [center + rng.uniform(-0.5, 0.5) for _ in range(4)],
             lab)
        )
    d = _write_embeddings(spark, tmp_path, rows)
    out = {r["label"]: r for r in q_label_centroid_separation(spark, d).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r["well_separated"], r
        assert r["separation_ratio"] > 10  # ~20 units apart, spread <1

    # the same data is maximally ANISOTROPIC per cluster union: mean
    # vector is ~0 (clusters cancel) -> healthy isotropy ratio
    a = q_anisotropy_audit(spark, d).collect()[0]
    assert a["n_vecs"] == 60
    assert a["isotropy_ok"]
    # one-sided corpus: every vector points the same way -> ratio ~ 1
    rows2 = [
        (i, [5.0 + rng.uniform(-0.1, 0.1) for _ in range(4)], 0)
        for i in range(40)
    ]
    d2 = _write_embeddings(spark, tmp_path / "b", rows2)
    a2 = q_anisotropy_audit(spark, d2).collect()[0]
    assert a2["anisotropy"] > 0.99
    assert not a2["isotropy_ok"]


# ---------------------------------------------------------------------------
# final round-5 batch: seasonality eta^2, vocab overlap matrix,
# exact-moment kurtosis.
# ---------------------------------------------------------------------------

def test_seasonality_strength_planted_cycle(spark, tmp_path):
    from anomalydetection_spark.queries import q_seasonality_strength

    rows = []
    eid = 0
    for day in range(1, 11):
        for hod in range(24):
            # 'cyclic': strong daily profile (20 at noon, 2 at night)
            # 'flat': constant 8/hour
            for et, nn in (
                ("cyclic", 20 if 10 <= hod <= 14 else 2),
                ("flat", 8),
            ):
                for k in range(nn):
                    rows.append(
                        (eid, f"2026-08-{day:02d} {hod:02d}:15:00", k,
                         et, 1.0, "{}")
                    )
                    eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in q_seasonality_strength(spark, d).collect()}
    c = out["cyclic"]
    assert c["n_groups"] == 24
    # identical counts at every same-hour slot -> ALL variance is
    # between hour-of-day groups
    assert c["eta2"] == 1.0 and c["seasonality"] == "strong"
    f = out["flat"]
    assert f["eta2"] == 0.0 and f["seasonality"] == "weak"


def test_vocab_overlap_and_kurtosis(spark, tmp_path):
    from anomalydetection_spark.queries import (
        q_value_kurtosis,
        q_vocab_overlap_matrix,
    )

    docs = [
        (0, "aa bb cc dd", "en", "s1", 11),
        (1, "aa bb cc dd", "en", "s2", 11),   # identical vocab to s1
        (2, "aa bb xx yy zz qq", "en", "s3", 17),  # 2 of 6 shared
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in q_vocab_overlap_matrix(spark, d).collect()
    }
    r12 = out[("s1", "s2")]
    assert r12["jaccard"] == 1.0 and r12["redundant_pair"]
    r13 = out[("s1", "s3")]
    assert r13["n_common"] == 2
    assert abs(r13["jaccard"] - 0.25) < 1e-9  # 2 / (4+6-2)
    assert r13["containment"] == 0.5

    rows = []
    eid = 0
    # 'normalish': symmetric tight values; 'heavy': mostly 10 with
    # rare huge spikes -> kurtosis >> 1
    for i in range(400):
        rows.append(
            (eid, "2026-08-01 00:00:00", 1, "normalish",
             float(9 + (i % 3)), "{}")
        )
        eid += 1
        v = 500.0 if i % 100 == 0 else 10.0
        rows.append(
            (eid, "2026-08-01 00:00:00", 1, "heavy", v, "{}")
        )
        eid += 1
    d2 = _write_events(spark, tmp_path / "b", rows)
    out2 = {r["event_type"]: r for r in q_value_kurtosis(spark, d2).collect()}
    assert out2["heavy"]["excess_kurtosis"] > 50
    assert out2["heavy"]["tail_class"] == "heavy_tailed"
    assert out2["normalish"]["tail_class"] == "light_tailed"  # uniform 3-point
