"""Drift detection: PSI/KS identities on identical inputs, known
shifts trip thresholds, histogram-KS matches exact KS on small data,
EMA+3σ flags a planted spike (SURVEY.md §5 item 2; threshold semantics
mirror /root/reference/model_manager.py:222 — score beyond threshold ⇒
anomaly — with the stricter-global split of drain3.ini:98/:112)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from anomalydetection_spark.operators.drift import (
    drift_verdicts,
    ema_3sigma,
    ks_from_histograms,
    psi,
)
from anomalydetection_spark.operators.stats import length_histogram


def _hist(spark, counts, key="k"):
    rows = [(key, b, int(c)) for b, c in enumerate(counts) if c > 0]
    return spark.createDataFrame(rows, "kind string, bucket int, count long")


def test_psi_zero_on_identical(spark):
    h = _hist(spark, [10, 20, 30, 40])
    assert abs(psi(h, h, ["kind"]).first().psi) < 1e-12


def test_ks_zero_on_identical(spark):
    h = _hist(spark, [10, 20, 30, 40])
    assert abs(ks_from_histograms(h, h, ["kind"]).first().ks) < 1e-12


def test_psi_known_value(spark):
    """Hand-computed PSI for two 2-bucket distributions."""
    cur = _hist(spark, [80, 20])
    base = _hist(spark, [50, 50])
    exp = (0.8 - 0.5) * np.log(0.8 / 0.5) + (0.2 - 0.5) * np.log(0.2 / 0.5)
    assert abs(psi(cur, base, ["kind"]).first().psi - exp) < 1e-9


def test_ks_matches_exact_small_data(spark):
    """Histogram KS with bins == distinct values equals the exact
    two-sample KS statistic."""
    rng = np.random.RandomState(7)
    a = rng.randint(0, 20, 500)
    b = np.clip(rng.randint(0, 20, 500) + 4, 0, 19)  # shifted
    ha = _hist(spark, np.bincount(a, minlength=20))
    hb = _hist(spark, np.bincount(b, minlength=20))
    got = ks_from_histograms(ha, hb, ["kind"]).first().ks
    # exact KS over the same support
    cdf_a = np.cumsum(np.bincount(a, minlength=20)) / len(a)
    cdf_b = np.cumsum(np.bincount(b, minlength=20)) / len(b)
    exact = np.abs(cdf_a - cdf_b).max()
    assert abs(got - exact) < 1e-9
    assert got > 0.1


def test_shifted_generation_trips_drift(spark, docs):
    """FIXTURES.md §3: +25% mean length and text 80%→60% must fail the
    drift gate; an identical regeneration must pass."""
    from anomalydetection_spark.fixtures import generate_documents

    baseline = length_histogram(docs, bins=64, bin_width=8)
    shifted_docs = generate_documents(
        spark, 4000, seed=43, n_partitions=8, n_media=2000,
        text_mean_len=50.0, text_frac=0.60, plant_violations=False,
    )
    shifted = length_histogram(shifted_docs, bins=64, bin_width=8)
    v = drift_verdicts(
        shifted, baseline, keys=["kind"], psi_threshold=0.1, ks_threshold=0.1
    ).collect()
    text_rows = [r for r in v if "text" in r.check]
    assert any(r.verdict == "fail" for r in text_rows)

    same = drift_verdicts(
        baseline, baseline, keys=["kind"], psi_threshold=0.1, ks_threshold=0.1
    ).collect()
    assert all(r.verdict == "pass" for r in same)


def test_stricter_global_threshold_split(spark):
    """Same score can pass the per-partition gate and fail the global
    one (reference: individual −0.04 vs ensemble 0.00)."""
    cur = _hist(spark, [70, 30])
    base = _hist(spark, [50, 50])
    score = psi(cur, base, ["kind"]).first().psi
    loose = drift_verdicts(cur, base, ["kind"], psi_threshold=score + 0.01,
                           ks_threshold=1.0).collect()
    tight = drift_verdicts(cur, base, ["kind"], psi_threshold=score - 0.01,
                           ks_threshold=1.0).collect()
    psi_rows_l = [r for r in loose if r.check.startswith("drift_psi")]
    psi_rows_t = [r for r in tight if r.check.startswith("drift_psi")]
    assert all(r.verdict == "pass" for r in psi_rows_l)
    assert all(r.verdict == "fail" for r in psi_rows_t)


def test_ema_3sigma_flags_spike(spark):
    """Flat series with one 10× spike → exactly that point flagged."""
    rows = [("m", i, 100.0 + (i % 3)) for i in range(30)]
    rows[20] = ("m", 20, 1000.0)
    df = spark.createDataFrame(rows, "key string, t int, v double")
    out = ema_3sigma(df, ["key"], "t", "v", min_history=5).collect()
    flagged = {r.t for r in out if r.is_anomaly}
    assert flagged == {20}


def test_ema_3sigma_constant_history_jump_flagged(spark):
    """A jump after a PERFECTLY stable history is the clearest
    anomaly, not a free pass: the degenerate-variance guard must not
    invert the verdict (zscore is +inf over zero trailing sigma, and a
    constant continuation still scores 0)."""
    rows = [("m", i, 0.1) for i in range(10)]
    rows[9] = ("m", 9, 0.9)
    df = spark.createDataFrame(rows, "key string, t int, v double")
    out = {r.t: r for r in ema_3sigma(
        df, ["key"], "t", "v", min_history=5
    ).collect()}
    assert out[9].is_anomaly
    assert not out[8].is_anomaly  # constant continuation stays clean


def test_ema_3sigma_quiet_series_clean(spark):
    rows = [("m", i, 100.0 + (i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "key string, t int, v double")
    out = ema_3sigma(df, ["key"], "t", "v", min_history=5).collect()
    assert not any(r.is_anomaly for r in out)


def test_ema_matches_pandas_ewm_recurrence(spark):
    """EMA fold reproduces the standard recurrence s_t = αx_t+(1-α)s_{t-1}
    over the trailing window (seeded at the window's first element)."""
    vals = [10.0, 12.0, 9.0, 11.0, 30.0, 10.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "key string, t int, v double"
    )
    out = {r.t: r.ema for r in ema_3sigma(df, ["key"], "t", "v",
                                          window_size=20).collect()}
    alpha = 0.3
    for t in range(1, len(vals)):
        s = vals[0]
        for x in vals[1:t]:
            s = alpha * x + (1 - alpha) * s
        assert abs(out[t] - s) < 1e-9


def test_manifest_history_drift_flags_rate_spike(spark, tmp_path):
    """Per-partition violation-rate series across manifest versions:
    a stable ~1% history passes; one partition's spike to 30% in the
    last run is flagged — for exactly that (partition, version)."""
    from anomalydetection_spark.operators.drift import manifest_history_drift
    from anomalydetection_spark.sources.manifest import Manifest

    m = Manifest(str(tmp_path / "m"))
    n_runs, n_parts, n_rows = 9, 4, 10_000
    for v in range(1, n_runs + 1):
        records = []
        for pid in range(n_parts):
            base = 100 + 7 * ((pid * 31 + v * 13) % 5)   # stable ~1%
            spike = v == n_runs and pid == 2
            records.append({
                "partition_id": pid,
                "snapshot_hash": f"h{pid}",
                "n_rows": n_rows,
                "n_violations": 3000 if spike else base,
                "verdict": "fail" if spike else "pass",
            })
        m.commit_validated(records, f"run{v}", f"1970-01-0{v}T00:00:00Z")

    d = manifest_history_drift(spark, m, min_history=5)
    flagged = {(r.partition_id, r.version) for r in d.collect() if r.is_anomaly}
    assert flagged == {(2, n_runs)}
    # series shape: every (partition, version) cell present
    assert d.count() == n_runs * n_parts


def test_chi2_zero_on_identical(spark):
    from anomalydetection_spark.operators.drift import chi2_from_histograms

    h = _hist(spark, [10, 20, 30, 40])
    row = chi2_from_histograms(h, h, ["kind"]).first()
    assert abs(row.chi2) < 1e-12
    assert row.dof == 3


def test_chi2_known_value(spark):
    """Hand-computed 2x2 homogeneity chi-squared (no continuity corr.)."""
    from anomalydetection_spark.operators.drift import chi2_from_histograms

    cur = _hist(spark, [80, 20])
    base = _hist(spark, [50, 50])
    # pooled shares: 130/200, 70/200; E_cur = (65, 35), E_base = (65, 35)
    exp = sum(
        (o - e) ** 2 / e
        for o, e in [(80, 65.0), (20, 35.0), (50, 65.0), (50, 35.0)]
    )
    row = chi2_from_histograms(cur, base, ["kind"]).first()
    assert abs(row.chi2 - exp) < 1e-9
    assert row.dof == 1


def test_chi2_bucket_empty_on_one_side(spark):
    """full_outer join keeps one-sided buckets; expected counts stay
    positive because the pooled share includes the other side's mass."""
    from anomalydetection_spark.operators.drift import chi2_from_histograms

    cur = _hist(spark, [100, 0, 50])   # bucket 1 absent on cur side
    base = _hist(spark, [60, 40, 50])
    row = chi2_from_histograms(cur, base, ["kind"]).first()
    n_cur, n_base, tot = 150.0, 150.0, 300.0
    exp = 0.0
    for c, b in [(100, 60), (0, 40), (50, 50)]:
        pooled = (c + b) / tot
        exp += (c - n_cur * pooled) ** 2 / (n_cur * pooled)
        exp += (b - n_base * pooled) ** 2 / (n_base * pooled)
    assert abs(row.chi2 - exp) < 1e-9
    assert row.dof == 2


def test_jsd_bounds_and_symmetry(spark):
    from anomalydetection_spark.operators.drift import jsd_from_histograms

    a = _hist(spark, [100, 0, 0, 0])
    b = _hist(spark, [0, 0, 0, 100])
    import math

    # disjoint supports → maximum ln 2; identical → 0; symmetric
    assert abs(jsd_from_histograms(a, b, ["kind"]).first().jsd
               - math.log(2)) < 1e-12
    assert abs(jsd_from_histograms(a, a, ["kind"]).first().jsd) < 1e-12
    ab = jsd_from_histograms(_hist(spark, [80, 20]),
                             _hist(spark, [50, 50]), ["kind"]).first().jsd
    ba = jsd_from_histograms(_hist(spark, [50, 50]),
                             _hist(spark, [80, 20]), ["kind"]).first().jsd
    assert abs(ab - ba) < 1e-12


def test_psi_explain_ranks_moved_bucket_first(spark):
    from anomalydetection_spark.operators.drift import psi_explain

    cur = _hist(spark, [10, 80, 10])   # bucket 1 ballooned
    base = _hist(spark, [40, 20, 40])
    rows = psi_explain(cur, base, ["kind"], k=2).collect()
    assert [r.bucket for r in sorted(rows, key=lambda r: r.rank)][0] == 1
    assert len(rows) == 2


def test_drift_verdicts_optional_chi2_jsd_rows(spark):
    """chi2/jsd thresholds add verdict rows from the same histogram
    pair; omitted thresholds keep the legacy 2-row shape."""
    from anomalydetection_spark.operators.drift import drift_verdicts

    cur = _hist(spark, [100, 0, 0, 0])
    base = _hist(spark, [25, 25, 25, 25])
    legacy = drift_verdicts(cur, base, ["kind"], 0.2, 0.2)
    assert {r.check for r in legacy.collect()} == {
        "drift_psi_k", "drift_ks_k",
    }
    full = drift_verdicts(
        cur, base, ["kind"], 0.2, 0.2,
        chi2_threshold=10.0, jsd_threshold=0.2,
    ).collect()
    by_check = {r.check: r for r in full}
    assert set(by_check) == {
        "drift_psi_k", "drift_ks_k", "drift_chi2_k", "drift_jsd_k",
    }
    # strong divergence trips every rule
    assert all(r.verdict == "fail" for r in full), full
    from anomalydetection_spark.operators.drift import jsd_from_histograms

    expected_jsd = jsd_from_histograms(cur, base, ["kind"]).first().jsd
    assert abs(by_check["drift_jsd_k"].score - expected_jsd) < 1e-12
    identical = drift_verdicts(
        cur, cur, ["kind"], 0.2, 0.2,
        chi2_threshold=10.0, jsd_threshold=0.2,
    )
    assert all(r.verdict == "pass" for r in identical.collect())


def _reference_drift(cur: dict, base: dict) -> dict:
    """psi / ks / chi2 / jsd / dof of one group, replayed in plain
    Python from the definitions: ε-floored PSI, max CDF gap, pooled
    two-sample chi2 over the buckets present on either side, JSD in
    nats; a side without mass has shares 0."""
    import math

    buckets = sorted(set(cur) | set(base))
    c = [cur.get(b, 0) for b in buckets]
    q = [base.get(b, 0) for b in buckets]
    n_c, n_b = sum(c), sum(q)
    p = [x / n_c if n_c else 0.0 for x in c]
    r = [x / n_b if n_b else 0.0 for x in q]
    eps = 1e-6
    psi_v = sum(
        (max(a, eps) - max(b, eps)) * math.log(max(a, eps) / max(b, eps))
        for a, b in zip(p, r)
    )
    ks, ca, cb = 0.0, 0.0, 0.0
    for a, b in zip(p, r):
        ca, cb = ca + a, cb + b
        ks = max(ks, abs(ca - cb))
    jsd = sum(
        ((a * math.log(a / ((a + b) / 2)) if a > 0 else 0.0)
         + (b * math.log(b / ((a + b) / 2)) if b > 0 else 0.0)) / 2
        for a, b in zip(p, r)
    )
    chi2 = 0.0
    for x, y in zip(c, q):
        pooled = (x + y) / (n_c + n_b)
        for o, n in ((x, n_c), (y, n_b)):
            e = n * pooled
            chi2 += (o - e) ** 2 / e if e > 0 else 0.0
    return {"psi": psi_v, "ks": ks, "chi2": chi2, "jsd": jsd,
            "dof": len(buckets) - 1}


def _groups(rows: list[tuple]) -> dict:
    """(*key, bucket, count) rows → {key tuple: {bucket: count}}."""
    out: dict = {}
    for *key, b, n in rows:
        out.setdefault(tuple(key), {})[b] = n
    return out


def _close(a: float, b: float) -> bool:
    import math

    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-15)


def _assert_drift_matches_reference(spark, keys, cur_rows, base_rows):
    """Every drift entry point — drift_verdicts with chi2 and JSD on,
    and the four statistic functions — equals the reference per group,
    including groups present on one side only."""
    from anomalydetection_spark.operators.drift import (
        chi2_from_histograms,
        jsd_from_histograms,
    )

    schema = "".join(
        f"{k} {'int' if k == 'partition_id' else 'string'}, " for k in keys
    ) + "bucket int, count long"
    cur = spark.createDataFrame(cur_rows, schema)
    base = spark.createDataFrame(base_rows, schema)
    gc, gb = _groups(cur_rows), _groups(base_rows)
    want = {
        g: _reference_drift(gc.get(g, {}), gb.get(g, {}))
        for g in set(gc) | set(gb)
    }
    named = [k for k in keys if k != "partition_id"]
    rows = drift_verdicts(
        cur, base, keys, 0.1, 0.1, check_prefix="d",
        chi2_threshold=30.0, jsd_threshold=0.05,
    ).collect()
    got = {(r.check, r.partition_id): r for r in rows}
    assert len(got) == len(rows) == 4 * len(want)
    for g, ref in want.items():
        kv = dict(zip(keys, g))
        suffix = "".join(f"_{kv[k]}" for k in named)
        for m, thresh in (("psi", 0.1), ("ks", 0.1), ("chi2", 30.0),
                          ("jsd", 0.05)):
            r = got[(f"d_{m}{suffix}", kv.get("partition_id"))]
            assert _close(r.score, ref[m]), (g, m, r.score, ref[m])
            assert r.verdict == ("fail" if ref[m] > thresh else "pass")
    for fn, cols in ((psi, ["psi"]), (ks_from_histograms, ["ks"]),
                     (jsd_from_histograms, ["jsd"]),
                     (chi2_from_histograms, ["chi2", "dof"])):
        out = fn(cur, base, keys).collect()
        assert len(out) == len(want)
        for r in out:
            ref = want[tuple(r[k] for k in keys)]
            for col in cols:
                assert _close(r[col], ref[col]), (fn.__name__, r, ref)


def _random_rows(keyvals, seed, n_buckets=21):
    rng = np.random.RandomState(seed)
    return [
        (*kv, b, int(rng.randint(1, 500)))
        for kv in keyvals for b in range(n_buckets) if rng.rand() > 0.2
    ]


def test_drift_kind_only_in_current(spark):
    _assert_drift_matches_reference(
        spark, ["kind"],
        _random_rows([("a",), ("x",)], 1), _random_rows([("a",)], 2),
    )


def test_drift_kind_only_in_baseline(spark):
    _assert_drift_matches_reference(
        spark, ["kind"],
        _random_rows([("a",)], 3), _random_rows([("a",), ("y",)], 4),
    )


def test_drift_chi2_jsd_many_kinds(spark):
    kinds = [("text",), ("image",), ("__null__",)]
    _assert_drift_matches_reference(
        spark, ["kind"], _random_rows(kinds, 5), _random_rows(kinds, 6),
    )


def test_drift_partition_id_first_key(spark):
    """Per-partition drift: partition_id surfaces as the verdict
    row's partition_id and stays out of the check name."""
    groups = [(p, k) for p in range(4) for k in ("a", "b")]
    _assert_drift_matches_reference(
        spark, ["partition_id", "kind"],
        _random_rows(groups, 7), _random_rows(groups, 8),
    )


def test_drift_no_keys(spark):
    """keys=[]: one group, verdict checks named by prefix and metric."""
    _assert_drift_matches_reference(
        spark, [], _random_rows([()], 9), _random_rows([()], 10),
    )


def test_drift_verdicts_is_two_jobs(spark, count_jobs):
    """One plan, one exchange: a drift_verdicts collect is at most two
    Spark jobs (exchange map stage + result), with chi2 and JSD on."""
    kinds = [("text",), ("image",), ("__null__",)]
    schema = "kind string, bucket int, count long"
    cur = spark.createDataFrame(_random_rows(kinds, 11), schema)
    base = spark.createDataFrame(_random_rows(kinds, 12), schema)
    for extra in ({}, {"chi2_threshold": 30.0, "jsd_threshold": 0.05}):
        rows, jobs = count_jobs(
            drift_verdicts(cur, base, ["kind"], 0.1, 0.1, **extra).collect
        )
        assert len(rows) == 3 * (2 + len(extra))
        assert jobs <= 2, f"drift_verdicts ran {jobs} Spark jobs"


def _series(spark, values, kind="k"):
    rows = [(kind, i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "kind string, t int, n double")


def test_cusum_fires_on_sustained_small_shift(spark):
    """A +1.5 level shift on a noisy-constant series: no single point
    is a 3-sigma outlier, but the CUSUM accumulates and fires shortly
    after the shift — the sequential case the point rules miss."""
    from anomalydetection_spark.operators.drift import cusum_changepoints

    base = [10.0, 10.5, 9.5, 10.0, 10.5, 9.5] * 5      # mean 10, sd~0.4
    shifted = base + [11.5, 12.0, 11.5, 12.0, 11.5, 12.0, 11.5, 12.0]
    out = cusum_changepoints(
        _series(spark, shifted), ["kind"], "t", "n",
        k_sigmas=0.5, h_sigmas=5.0,
    ).orderBy("t").collect()
    fired = [r.t for r in out if r.is_shift]
    assert fired, "sustained shift never fired"
    assert min(fired) >= 30, "fired before the planted shift"
    assert min(fired) <= 36, "took more than 6 observations to fire"
    assert all(r.direction == "up" for r in out if r.is_shift)
    # statistic is exactly the textbook recursion, replayed in numpy
    import numpy as np

    x = np.array(shifted)
    mu, sd = x.mean(), x.std(ddof=1)
    s, k = 0.0, 0.5 * sd
    expect = []
    for v in x:
        s = max(0.0, s + v - mu - k)
        expect.append(s)
    got = [r.cusum_pos for r in out]
    assert np.allclose(got, expect, atol=1e-9)


def test_cusum_downward_and_degenerate(spark):
    from anomalydetection_spark.operators.drift import cusum_changepoints

    down = [20.0, 20.5, 19.5, 20.0] * 8 + [18.0, 17.5, 18.0, 17.5] * 3
    out = cusum_changepoints(
        _series(spark, down), ["kind"], "t", "n",
        k_sigmas=0.5, h_sigmas=5.0,
    ).collect()
    assert any(r.is_shift and r.direction == "down" for r in out)
    assert not any(r.direction == "up" for r in out if r.is_shift)

    # constant series: sigma==0 must never flag (no div-by-zero, no inf)
    const = cusum_changepoints(
        _series(spark, [5.0] * 20), ["kind"], "t", "n"
    ).collect()
    assert not any(r.is_shift for r in const)


def test_cusum_groups_are_independent(spark):
    """The shift in one group must not leak flags into another."""
    from anomalydetection_spark.operators.drift import cusum_changepoints

    a = [("a", i, 10.0 + (0.5 if i % 2 else -0.5)) for i in range(30)]
    a += [("a", 30 + i, 13.0) for i in range(8)]
    b = [("b", i, 10.0 + (0.5 if i % 2 else -0.5)) for i in range(38)]
    df = spark.createDataFrame(a + b, "kind string, t int, n double")
    out = cusum_changepoints(df, ["kind"], "t", "n").collect()
    assert any(r.is_shift for r in out if r.kind == "a")
    assert not any(r.is_shift for r in out if r.kind == "b")


def _series_df(spark, values, key="m"):
    rows = [(key, i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "k string, t long, v double")


def test_holt_ramp_not_anomalous_but_ema_lags(spark):
    """The defining property: a clean linear ramp is NOT anomalous
    under Holt (trend state absorbs the slope — forecasts converge to
    the true next value), while each point sits ~2 trailing-sd above
    the trailing mean, so level-only logic would be on the edge of
    firing forever."""
    from anomalydetection_spark.operators.drift import (
        holt_residual_anomaly,
    )

    ramp = [100.0 + 7.0 * i for i in range(40)]
    out = holt_residual_anomaly(
        _series_df(spark, ramp), ["k"], "t", "v",
        alpha=0.4, beta=0.3, sigma_k=3.0, min_history=8, window_size=24,
    ).orderBy("t").collect()
    assert not any(r["is_anomaly"] for r in out)
    # late-ramp forecasts track the true value closely (Holt converges)
    tail = [r for r in out if r["t"] >= 30]
    assert all(abs(r["residual"]) < 2.0 for r in tail)


def test_holt_flags_spike_and_level_break(spark):
    from anomalydetection_spark.operators.drift import (
        holt_residual_anomaly,
    )

    vals = [50.0 + (i % 3) for i in range(30)]
    vals[20] = 500.0  # spike
    out = {
        r["t"]: r
        for r in holt_residual_anomaly(
            _series_df(spark, vals), ["k"], "t", "v",
            alpha=0.4, beta=0.3, sigma_k=3.0, min_history=8,
            window_size=24,
        ).collect()
    }
    assert out[20]["is_anomaly"]
    # pre-history rows never flag regardless of deviation
    assert not any(out[t]["is_anomaly"] for t in range(8))


def test_holt_keys_fold_independently(spark):
    from anomalydetection_spark.operators.drift import (
        holt_residual_anomaly,
    )

    a = [(f"a", i, 10.0) for i in range(15)]
    b = [(f"b", i, 10.0 if i != 12 else 300.0) for i in range(15)]
    df = spark.createDataFrame(a + b, "k string, t long, v double")
    out = holt_residual_anomaly(
        df, ["k"], "t", "v", alpha=0.4, beta=0.3, sigma_k=3.0,
        min_history=8, window_size=24,
    ).collect()
    flagged = {(r["k"], r["t"]) for r in out if r["is_anomaly"]}
    assert flagged == {("b", 12)}


def test_delta_attribution_planted_mover(spark):
    """One segment moves +100, another -20, third flat: shares are
    signed fractions of the NET +80 and rank orders by |delta|."""
    from anomalydetection_spark.operators.drift import delta_attribution

    rows = (
        [("a", False, 100.0), ("a", True, 200.0)]   # +100
        + [("b", False, 50.0), ("b", True, 30.0)]   # -20
        + [("c", False, 10.0), ("c", True, 10.0)]   # 0
    )
    df = spark.createDataFrame(rows, "seg string, cur boolean, m double")
    out = {
        r["segment"]: r
        for r in delta_attribution(df, F.col("cur"), ["seg"], "m").collect()
    }
    assert out["a"]["delta"] == 100.0 and out["a"]["rank"] == 1
    assert abs(out["a"]["share_of_delta"] - 100.0 / 80.0) < 1e-9
    assert abs(out["b"]["share_of_delta"] - (-20.0 / 80.0)) < 1e-9
    assert out["c"]["delta"] == 0.0 and out["c"]["rank"] == 3


def test_delta_attribution_zero_net_delta_null_share(spark):
    from anomalydetection_spark.operators.drift import delta_attribution

    rows = [("a", False, 10.0), ("a", True, 30.0),
            ("b", False, 30.0), ("b", True, 10.0)]
    df = spark.createDataFrame(rows, "seg string, cur boolean, m double")
    out = delta_attribution(df, F.col("cur"), ["seg"], "m").collect()
    assert all(r["share_of_delta"] is None for r in out)


def test_acf_detects_planted_daily_cycle(spark):
    import math

    from anomalydetection_spark.operators.drift import acf_lags

    rows = [
        (i, 100.0 + 40.0 * math.sin(2 * math.pi * i / 24.0)
         + 5.0 * math.sin(i * 0.7))
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "h long, n double")
    out = acf_lags(df, "h", "n", max_lag=36).collect()
    by_lag = {r["lag"]: r for r in out}
    top = min(out, key=lambda r: r["rank"])
    assert top["lag"] == 24 and top["acf"] > 0.9
    # half-period anticorrelation
    assert by_lag[12]["acf"] < -0.8
    # pair counts shrink with the lag on a gapless series
    assert by_lag[36]["n_pairs"] == 240 - 36


def test_acf_gapped_series_skips_missing_pairs(spark):
    from anomalydetection_spark.operators.drift import acf_lags

    # indexes 0..9 with 5 missing: lag-1 pairs only where adjacent
    rows = [(i, float(i)) for i in [0, 1, 2, 3, 4, 6, 7, 8, 9]]
    df = spark.createDataFrame(rows, "h long, n double")
    out = {r["lag"]: r for r in acf_lags(df, "h", "n", max_lag=2).collect()}
    assert out[1]["n_pairs"] == 7  # (0..4)->4 pairs + (6..9)->3
    assert out[2]["n_pairs"] == 6  # within-run + the 4-6 bridge
