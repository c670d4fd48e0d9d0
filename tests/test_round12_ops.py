"""Round-12 kernels: independent cross-checks BEYOND the oracle gate.

The DuckDB oracle proves Spark and DuckDB agree; these tests rebuild
each deterministic sketch (KMV bottom-k, engine-owned HLL, theta
intersection) with a third, pure-python hashlib implementation so an
algebra-level mistake both engines repeat still fails — and pin the
published error bounds of each estimator against exact counts.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from analyse_the_sky_with_apache_spark_spark.operators.aggregations import (
    _H48,
    _HLL_M,
    _HLL_NUM,
    _HLL_WBITS,
    _KMV_K,
)
from analyse_the_sky_with_apache_spark_spark.registry import (
    ORACLE,
    QUERIES,
    load_all_modules,
)
from tests.conftest import SF_DIR, assert_matches_oracle

load_all_modules()


def _h48(x) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:12], 16)


def _orders(cols):
    return pq.read_table(f"{SF_DIR}/orders.parquet", columns=cols).to_pylist()


# ---------------------------------------------------------------- KMV

def _kmv_python():
    """Pure-python KMV rebuild: per-priority bottom-k + exact merge."""
    rows = _orders(["o_orderpriority", "o_orderkey"])
    shards: dict[str, set[int]] = {}
    for r in rows:
        shards.setdefault(r["o_orderpriority"], set()).add(
            _h48(r["o_orderkey"])
        )
    out = {}
    union_sketch: set[int] = set()
    for shard, hs in shards.items():
        sk = sorted(hs)[:_KMV_K]
        union_sketch.update(sk)
        k_used = len(sk)
        est = k_used if k_used < _KMV_K else (_KMV_K - 1) * _H48 // sk[-1]
        out[shard] = (len(hs), k_used, est)
    msk = sorted(union_sketch)[:_KMV_K]
    k_used = len(msk)
    est = k_used if k_used < _KMV_K else (_KMV_K - 1) * _H48 // msk[-1]
    all_h = set().union(*shards.values())
    out["~ALL"] = (len(all_h), k_used, est)
    return out


def test_kmv_matches_python_rebuild(spark):
    got = {
        r["shard"]: (r["exact_distinct"], r["k_used"], r["kmv_est"], r["err"])
        for r in QUERIES["agg_kmv_bottomk"](spark, SF_DIR).collect()
    }
    want = _kmv_python()
    assert set(got) == set(want)
    for shard, (exact, k_used, est) in want.items():
        assert got[shard] == (exact, k_used, est, est - exact), shard


def test_kmv_error_bound(spark):
    """(k-1)/theta estimator: rel. stderr ~ 1/sqrt(k-2); pin 4 sigma."""
    bound = 4.0 / math.sqrt(_KMV_K - 2)
    for r in QUERIES["agg_kmv_bottomk"](spark, SF_DIR).collect():
        if r["k_used"] < _KMV_K:  # exact branch
            assert r["kmv_est"] == r["exact_distinct"]
        else:
            assert abs(r["err"]) / r["exact_distinct"] <= bound, r


def test_kmv_merge_union_property():
    """bottom-k(union of bottom-k lists) == bottom-k(full union) —
    the exactness claim the '~ALL' row rides on."""
    rows = _orders(["o_orderpriority", "o_orderkey"])
    shards: dict[str, set[int]] = {}
    full: set[int] = set()
    for r in rows:
        h = _h48(r["o_orderkey"])
        shards.setdefault(r["o_orderpriority"], set()).add(h)
        full.add(h)
    union_of_sketches: set[int] = set()
    for hs in shards.values():
        union_of_sketches.update(sorted(hs)[:_KMV_K])
    assert sorted(union_of_sketches)[:_KMV_K] == sorted(full)[:_KMV_K]


# ---------------------------------------------------------------- HLL

def _hll_registers():
    """Per-shard + merged register vectors rebuilt in pure python."""
    rows = pq.read_table(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_returnflag", "l_orderkey", "l_linenumber"],
    ).to_pylist()
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set[int]] = {}
    for r in rows:
        key = f"{r['l_orderkey']}-{r['l_linenumber']}"
        h = _h48(key)
        bucket, w = divmod(h, 1 << 38)
        rho = _HLL_WBITS if w == 0 else _HLL_WBITS - w.bit_length()
        shard = r["l_returnflag"]
        d = regs.setdefault(shard, {})
        d[bucket] = max(d.get(bucket, 0), rho)
        exact.setdefault(shard, set()).add(
            r["l_orderkey"] * 8 + r["l_linenumber"]
        )
    merged: dict[int, int] = {}
    for d in regs.values():
        for b, r_ in d.items():
            merged[b] = max(merged.get(b, 0), r_)
    regs["~ALL"] = merged
    exact["~ALL"] = set().union(*[v for k, v in exact.items() if k != "~ALL"])
    return regs, exact


def _hll_estimate(d: dict[int, int]) -> tuple[int, int]:
    present = len(d)
    s_total = sum(1 << (_HLL_WBITS - r) for r in d.values()) + (
        _HLL_M - present
    ) * (1 << _HLL_WBITS)
    e_raw_micro = math.floor(_HLL_NUM / s_total * 1e6 + 0.5)
    v = _HLL_M - present
    if e_raw_micro <= (5 * _HLL_M // 2) * 1000000 and v > 0:
        return present, math.floor(
            float(_HLL_M) * math.log(float(_HLL_M) / v) * 1e6 + 0.5
        )
    return present, e_raw_micro


def test_hll_matches_python_rebuild(spark):
    regs, exact = _hll_registers()
    got = {
        r["shard"]: (
            r["exact_distinct"], r["present"], r["est_micro"], r["err_micro"]
        )
        for r in QUERIES["agg_hll_deterministic"](spark, SF_DIR).collect()
    }
    assert set(got) == set(regs)
    for shard, d in regs.items():
        present, est = _hll_estimate(d)
        n = len(exact[shard])
        assert got[shard] == (n, present, est, est - n * 1000000), shard


def test_hll_error_bound(spark):
    """Published HLL stderr 1.04/sqrt(m) ~ 3.25%; pin 3 sigma."""
    bound = 3 * 1.04 / math.sqrt(_HLL_M)
    for r in QUERIES["agg_hll_deterministic"](spark, SF_DIR).collect():
        rel = abs(r["err_micro"]) / (r["exact_distinct"] * 1e6)
        assert rel <= bound, (r["shard"], rel)


def test_hll_merge_is_registerwise_max():
    """The '~ALL' register vector equals the element-wise max of the
    shard vectors — HLL mergeability, checked register by register."""
    regs, _ = _hll_registers()
    merged = regs["~ALL"]
    for b in merged:
        assert merged[b] == max(
            d.get(b, 0) for k, d in regs.items() if k != "~ALL"
        )


def test_hll_edge_cases_match_oracle(spark, tmp_path):
    """Null shards, one key under two shards, and exact-key collisions.

    (1, 1) sits under two return flags, so it counts once in '~ALL';
    the null-flag row forms no shard but feeds the '~ALL' registers
    and count; (3, 9) and (4, 1) share ``l_orderkey*8 + l_linenumber``
    = 33, as do (5, 12) and the null-flag (6, 4) at 52, so the exact
    count sees one key where the hash sees two.
    """
    rows = [(1, 1, "A"), (1, 1, "N"), (2, 3, None), (3, 9, "R"),
            (4, 1, "R"), (5, 12, "A"), (6, 4, None)]
    rows += [(100 + i, 1 + i % 7, "NRA"[i % 3]) for i in range(40)]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
                "l_returnflag": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    try:
        df = assert_matches_oracle(
            spark, con, QUERIES["agg_hll_deterministic"],
            ORACLE["agg_hll_deterministic"], sf_dir=str(tmp_path),
        )
    finally:
        con.close()
    got = {r["shard"]: r["exact_distinct"] for r in df.collect()}
    assert got == {"A": 15, "N": 15, "R": 14, "~ALL": 44}


# -------------------------------------------------------------- theta

def _theta_python():
    rows = _orders(["o_orderpriority", "o_custkey"])
    a = {r["o_custkey"] for r in rows if r["o_orderpriority"] == "1-URGENT"}
    b = {r["o_custkey"] for r in rows if r["o_orderpriority"] == "2-HIGH"}
    ha = sorted(_h48(k) for k in a)
    hb = sorted(_h48(k) for k in b)
    ska, skb = ha[:_KMV_K], hb[:_KMV_K]
    ta = _H48 if len(ha) < _KMV_K else ska[-1]
    tb = _H48 if len(hb) < _KMV_K else skb[-1]
    theta = min(ta, tb)
    k_below = len({h for h in ska if h < theta} & {h for h in skb if h < theta})
    est = k_below if theta == _H48 else k_below * _H48 // theta
    return (
        len(a), len(b), len(a & b), k_below, theta, est, est - len(a & b)
    )


def test_theta_matches_python_rebuild(spark):
    rows = QUERIES["agg_theta_intersect_kmv"](spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r["n_a_exact"], r["n_b_exact"], r["inter_exact"], r["k_below"],
        r["theta"], r["theta_est"], r["err"],
    ) == _theta_python()


def test_theta_error_bound(spark):
    """Theta intersection variance grows as the intersection shrinks
    relative to the union; with |A∩B|/|A∪B| ~ 0.8 in both fixtures a
    30% rel bound is > 4 sigma (stderr ~ sqrt(est)/k_below-scaled)."""
    r = QUERIES["agg_theta_intersect_kmv"](spark, SF_DIR).collect()[0]
    if r["theta"] == _H48:
        assert r["theta_est"] == r["inter_exact"]
    else:
        assert abs(r["err"]) / r["inter_exact"] <= 0.30, r
