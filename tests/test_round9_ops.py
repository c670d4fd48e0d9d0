"""Round-9 kernels: independent cross-checks BEYOND the oracle gate.

The DuckDB oracle proves Spark and DuckDB agree; these tests rebuild
each statistic from raw parquet with numpy/pandas — a third
implementation with none of the two engines' shared SQL idioms — so an
algebra-level mistake both engines repeat (the round-8 AD-test lesson)
still fails.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from analyse_the_sky_with_apache_spark_spark.registry import (
    load_all_modules,
    QUERIES,
)
from tests.conftest import SF_DIR

load_all_modules()


def _events() -> pd.DataFrame:
    return pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()


def _orders() -> pd.DataFrame:
    return pq.read_table(f"{SF_DIR}/orders.parquet").to_pandas()


def test_mann_kendall_vs_numpy(spark):
    ev = _events()
    micro = np.floor(ev["value"].to_numpy() * 1e6 + 0.5).astype(np.int64)
    daily = (
        pd.DataFrame({"day": ev["ts"].dt.date, "y": micro})
        .groupby("day")["y"].sum().sort_index().to_numpy()
    )
    n = len(daily)
    s = sum(
        int(np.sign(daily[j] - daily[i]))
        for i in range(n) for j in range(i + 1, n)
    )
    _, t_counts = np.unique(daily, return_counts=True)
    tie = sum(int(t) * (t - 1) * (2 * t + 5) for t in t_counts if t > 1)
    var18 = n * (n - 1) * (2 * n + 5) - tie
    if s > 0:
        z = (s - 1.0) / math.sqrt(var18 / 18.0)
    elif s < 0:
        z = (s + 1.0) / math.sqrt(var18 / 18.0)
    else:
        z = 0.0
    row = QUERIES["ts_mann_kendall"](spark, SF_DIR).collect()[0]
    assert row["n"] == n and row["s_stat"] == s and row["var18"] == var18
    assert abs(row["z_micro"] - math.floor(z * 1e6 + 0.5)) <= 1


def test_bartlett_vs_numpy(spark):
    o = _orders()
    cents = np.floor(o["o_totalprice"].to_numpy() * 100.0 + 0.5).astype(
        np.int64
    )
    grp = o["o_orderpriority"].to_numpy()
    groups = [cents[grp == g] for g in np.unique(grp)]
    k, n = len(groups), len(cents)
    s2 = [g.var(ddof=1) for g in groups]
    nj = [len(g) for g in groups]
    s2p = sum((m - 1) * v for m, v in zip(nj, s2)) / (n - k)
    t = ((n - k) * math.log(s2p) - sum(
        (m - 1) * math.log(v) for m, v in zip(nj, s2)
    )) / (1.0 + (sum(1.0 / (m - 1) for m in nj) - 1.0 / (n - k))
          / (3.0 * (k - 1)))
    row = QUERIES["stat_bartlett"](spark, SF_DIR).collect()[0]
    assert row["k"] == k and row["n"] == n
    # numpy's variance path differs from the exact-sum lanes; the
    # statistic itself must agree to ~1e-4 relative
    assert abs(row["t_micro"] / 1e6 - t) <= max(1e-4 * abs(t), 1e-3)


def test_breusch_pagan_vs_numpy(spark):
    o = _orders()
    days = (
        pd.to_datetime(o["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1995-01-01")
    ).dt.days.to_numpy()
    dollars = np.floor(o["o_totalprice"].to_numpy() + 0.5).astype(np.int64)
    d = (
        pd.DataFrame({"x": days, "y": dollars})
        .groupby("x")["y"].sum().reset_index()
    )
    x = d["x"].to_numpy(dtype=np.float64)
    y = d["y"].to_numpy(dtype=np.float64)
    n = len(x)
    beta = ((n * (x * y).sum() - x.sum() * y.sum())
            / (n * (x * x).sum() - x.sum() ** 2))
    alpha = (y.sum() - beta * x.sum()) / n
    e = y - alpha - beta * x
    g = np.floor(e * e / 1e6 + 0.5)
    num = n * (x * g).sum() - x.sum() * g.sum()
    r2 = num * num / (
        (n * (x * x).sum() - x.sum() ** 2)
        * (n * (g * g).sum() - g.sum() ** 2)
    )
    lm = n * r2
    row = QUERIES["stat_breusch_pagan"](spark, SF_DIR).collect()[0]
    assert row["n_days"] == n
    assert abs(row["beta_micro"] / 1e6 - beta) <= max(
        1e-5 * abs(beta), 1e-5
    )
    assert abs(row["lm_micro"] / 1e6 - lm) <= max(1e-4 * abs(lm), 1e-3)


def test_hll_and_kll_sink_merges_certify(spark):
    """Both sink-merge keys must return every bound boolean TRUE —
    the estimates actually sit inside the certified tolerances."""
    for key in ("agg_hll_sketch_merge", "agg_kll_sketch_merge"):
        rows = QUERIES[key](spark, SF_DIR).collect()
        assert rows, key
        for r in rows:
            for col in r.asDict():
                if col.endswith("_within_bound"):
                    assert r[col] is True, (key, r)


def test_rate_limit_batches_partition_the_stream(spark):
    rows = QUERIES["stream_rate_limit"](spark, SF_DIR).collect()
    assert [r["batch_id"] for r in rows] == [0, 1, 2]
    total = sum(r["n_rows"] for r in rows)
    n_events = pq.read_metadata(f"{SF_DIR}/events.parquet").num_rows
    assert total == n_events


def test_betweenness_vs_pure_python_brandes(spark):
    """Third-implementation check for graph_betweenness_sampled: a
    plain-Python truncated Brandes over the collected strong-edge
    table (bounded at sf0.001) must reproduce every nano-gridded
    score — the same integer arithmetic, none of the two engines'
    SQL/DataFrame machinery."""
    from collections import defaultdict, deque

    from analyse_the_sky_with_apache_spark_spark.operators.graph import (
        _BC_SOURCES,
        _edges_cached,
    )

    edges = [
        (r["u"], r["v"])
        for r in _edges_cached(spark, SF_DIR, strong=True).collect()
    ]
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    deg = sorted(adj, key=lambda n: (-len(adj[n]), n))
    sources = deg[:_BC_SOURCES]

    bc = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        levels = defaultdict(list)
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] >= 3:
                continue
            for w in sorted(adj[v]):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    levels[dist[w]].append(w)
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[v]
        delta = defaultdict(int)  # nano-gridded, truncating div
        for lev in (2, 1):
            for v in levels[lev]:
                for w in adj[v]:
                    if dist.get(w) == lev + 1:
                        delta[v] += (
                            sigma[v] * (1_000_000_000 + delta[w])
                        ) // sigma[w]
        for lev in (1, 2):
            for v in levels[lev]:
                if delta[v]:
                    bc[v] += delta[v]

    expected = sorted(
        ((n, t) for n, t in bc.items() if t > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:50]
    from analyse_the_sky_with_apache_spark_spark.registry import QUERIES

    rows = QUERIES["graph_betweenness_sampled"](spark, SF_DIR).collect()
    got = [(r["node"], r["betweenness_nano"]) for r in rows]
    assert got == expected


def test_adf_unitroot_vs_numpy(spark):
    """Dickey-Fuller regression rebuilt with numpy OLS over the same
    milli-gridded hourly means."""
    ev = _events()
    milli = np.floor(ev["value"].to_numpy() * 1e3 + 0.5).astype(np.int64)
    micros = ev["ts"].astype("datetime64[us]").astype("int64")
    hours = (micros // 3_600_000_000).to_numpy()
    df = pd.DataFrame({"t": hours, "m": milli}).groupby("t").agg(
        s=("m", "sum"), c=("m", "count")
    )
    y = (df["s"] // df["c"]).sort_index().to_numpy(dtype=np.float64)
    yl, dy = y[:-1], np.diff(y)
    n = len(yl)
    rho = ((n * (yl * dy).sum() - yl.sum() * dy.sum())
           / (n * (yl * yl).sum() - yl.sum() ** 2))
    alpha = (dy.sum() - rho * yl.sum()) / n
    e = dy - alpha - rho * yl
    s2 = np.floor(e * e + 0.5).sum() / (n - 2)
    se = math.sqrt(s2 / ((n * (yl * yl).sum() - yl.sum() ** 2) / n))
    t = rho / se
    row = QUERIES["ts_adf_unitroot"](spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert abs(row["rho_micro"] / 1e6 - rho) <= max(1e-5 * abs(rho), 1e-5)
    assert abs(row["t_micro"] / 1e6 - t) <= max(1e-4 * abs(t), 1e-3)


def test_pinball_loss_vs_numpy(spark):
    """Pinball totals rebuilt with a direct numpy order-statistic
    quantile + hinge over the same daily micro sums."""
    ev = _events()
    micro = np.floor(ev["value"].to_numpy() * 1e6 + 0.5).astype(np.int64)
    d = (
        pd.DataFrame({"day": ev["ts"].dt.date, "y": micro})
        .groupby("day")["y"].sum()
    )
    cut = pd.Timestamp("2024-01-16").date()
    train = np.sort(d[d.index < cut].to_numpy())
    test = d[d.index >= cut].to_numpy()
    rows = {
        r["tau_x10"]: r
        for r in QUERIES["ml_pinball_loss"](spark, SF_DIR).collect()
    }
    for tau10 in (5, 9):
        q = int(train[math.ceil(tau10 * len(train) / 10) - 1])
        loss = int(
            sum(
                tau10 * (y - q) if y > q else (10 - tau10) * (q - y)
                for y in test
            )
        )
        r = rows[tau10]
        assert r["q_forecast"] == q
        assert r["n_test"] == len(test)
        assert r["pinball_x10_total"] == loss


def test_spectral_entropy_bounds_and_dominance(spark):
    """Normalized spectral entropy must sit in [0, 1e6] and the
    dominant period's power share must be >= 1/|periods|."""
    rows = QUERIES["ts_spectral_entropy"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["spectral_entropy_norm_micro"] <= 1_000_000
        assert r["dominant_period"] in (3, 5, 7, 11)
        assert r["concentration_micro"] >= 1_000_000 // 4


def test_countmin_merge_never_undercounts(spark):
    """CMS point estimates are >= the true count BY CONSTRUCTION —
    a strict sketch property the hash alone doesn't articulate."""
    rows = QUERIES["agg_countmin_merge"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["exact_cnt"], r
        assert r["overcount"] == r["cms_estimate"] - r["exact_cnt"]


def test_dp_topk_noise_is_seeded_and_bounded(spark):
    """Two runs must produce the identical release (seeded coin), and
    every selected candidate must be top-k by the noisy key."""
    a = QUERIES["privacy_dp_topk"](spark, SF_DIR).collect()
    b = QUERIES["privacy_dp_topk"](spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    noisy = [r["noisy_micro"] for r in a]
    assert noisy == sorted(noisy, reverse=True)
    assert len(a) == 10
