"""Property tests for the round-9 final-session additions (Friedman,
Hampel, Cochran's Q, Page trend, Bartlett, seasonal Mann-Kendall,
ICC(1), Durbin-Watson, interpolating as-of join): each query's
oracle SQL must equal
brute-force Python on arbitrary small inputs (incomplete blocks,
heavy ties, degenerate MAD=0 windows, all-0/all-1 rows,
zero-variance groups, 0/1-member seasons, singleton designs,
perfect fits). Spark == oracle is already pinned by
test_oracle_parity, so validating the SQL against brute force closes
the chain python-brute <-> oracle-SQL <-> Spark without paying a Spark
session per hypothesis example (the test_kgroup_property pattern)."""

from __future__ import annotations

import datetime
import math
from collections import Counter

import duckdb
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from serverless_datalake_spark.queries import load_registry

REG = load_registry()

# ---------------------------------------------------------------- friedman

# (block g, treatment t, order cents): few blocks/treatments, small
# cent domain to force rank tie-breaks through the deterministic
# (value desc, treatment) permutation; blocks may MISS treatments.
_orders = st.lists(
    st.tuples(
        st.integers(0, 4),
        st.sampled_from(["1-URGENT", "2-HIGH", "3-LOW"]),
        st.integers(0, 500),
    ),
    min_size=3,
    max_size=60,
)


def _friedman_brute(rows):
    cells: dict[tuple[int, str], int] = {}
    for g, t, cents in rows:
        cells[(g, t)] = cells.get((g, t), 0) + cents
    ts = sorted({t for (_, t) in cells})
    k = len(ts)
    gs = sorted(
        g
        for g in {g for (g, _) in cells}
        if all((g, t) in cells for t in ts)
    )
    n = len(gs)
    rs = {t: 0 for t in ts}
    for g in gs:
        order = sorted(ts, key=lambda t: (-cells[(g, t)], t))
        for i, t in enumerate(order):
            rs[t] += i + 1
    srr = float(sum(v * v for v in rs.values()))
    if n == 0:
        return n, k, None, None
    chi2 = 12.0 * srr / (n * k * (k + 1)) - 3.0 * n * (k + 1)
    top = min(ts, key=lambda t: (rs[t], t))
    return n, k, chi2, top


@settings(max_examples=40, deadline=None)
@given(_orders)
def test_friedman_oracle_matches_brute(rows):
    assume(len({t for _, t, _ in rows}) >= 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_custkey BIGINT, c_nationkey BIGINT)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?)",
        [(g, g) for g in sorted({g for g, _, _ in rows})],
    )
    con.execute(
        "CREATE TABLE orders(o_custkey BIGINT, o_orderpriority VARCHAR,"
        " o_totalprice DOUBLE)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(g, t, cents / 100.0) for g, t, cents in rows],
    )
    n, k, chi2, top = _friedman_brute(rows)
    got = con.execute(REG["stats_friedman_test"].oracle).fetchone()
    assert got[0] == n and got[1] == k and got[2] == k - 1
    if n == 0:
        assert got[3] is None
    else:
        assert math.isclose(got[3], round(chi2, 6), abs_tol=1e-6)
        assert got[5] == top


# ----------------------------------------------------------------- hampel

# (epoch hour, type) event stubs: sparse hour grid with gaps (the
# rows-frame semantics skip missing hours, matching both engines) and
# repeated rows to vary the counts.
_events = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(["click", "view"])),
    min_size=1,
    max_size=120,
)


def _hampel_brute(rows):
    cnt = Counter((t, h) for h, t in rows)
    out = []
    for typ in sorted({t for t, _ in cnt}):
        hs = sorted(h for (t, h) in cnt if t == typ)
        xs = [cnt[(typ, h)] for h in hs]
        for i in range(3, len(hs) - 3):
            wv = sorted(xs[i - 3 : i + 4])
            m = wv[3]
            mad = sorted(abs(v - m) for v in wv)[3]
            flag = 1 if abs(xs[i] - m) > 3.0 * 1.4826 * mad else 0
            out.append((typ, hs[i] * 3600, xs[i], m, mad, flag))
    return sorted(out)


@settings(max_examples=40, deadline=None)
@given(_events)
def test_hampel_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(ts TIMESTAMP, event_type VARCHAR)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [
            (
                datetime.datetime(1970, 1, 1)
                + datetime.timedelta(hours=h, minutes=7),
                t,
            )
            for h, t in rows
        ],
    )
    got = sorted(con.execute(REG["ts_hampel_filter"].oracle).fetchall())
    assert got == _hampel_brute(rows)


# ---------------------------------------------------------------- cochran q

# (block g, treatment t, cents): cell-vs-block-average binary cells
# with blocks allowed to miss treatments; tiny cent domain forces
# exact-tie (cell avg == block avg -> 0) and all-0 degenerate rows.
_status_orders = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.sampled_from(["1-URGENT", "2-HIGH", "3-LOW"]),
        st.integers(0, 20),
    ),
    min_size=3,
    max_size=60,
)


def _cochran_brute(rows):
    cells_n: dict[tuple[int, str], int] = {}
    cells_s: dict[tuple[int, str], int] = {}
    for g, t, cents in rows:
        cells_n[(g, t)] = cells_n.get((g, t), 0) + 1
        cells_s[(g, t)] = cells_s.get((g, t), 0) + cents
    ts = sorted({t for (_, t) in cells_n})
    k = len(ts)
    gs = sorted(
        g
        for g in {g for (g, _) in cells_n}
        if all((g, t) in cells_n for t in ts)
    )
    bn = {g: sum(cells_n[(g, t)] for t in ts) for g in gs}
    bs = {g: sum(cells_s[(g, t)] for t in ts) for g in gs}
    b = {
        (g, t): 1 if cells_s[(g, t)] * bn[g] > bs[g] * cells_n[(g, t)] else 0
        for g in gs
        for t in ts
    }
    n_blocks = len(gs)
    rsum = {g: sum(b[(g, t)] for t in ts) for g in gs}
    csum = {t: sum(b[(g, t)] for g in gs) for t in ts}
    nn = sum(rsum.values())
    ssc = sum((k * csum[t] - nn) ** 2 for t in ts) / (k * k) if gs else None
    denom = k * nn - sum(r * r for r in rsum.values())
    if not gs or denom == 0:
        return n_blocks, k, nn if gs else 0, None
    q = k * (k - 1) * ssc / denom
    return n_blocks, k, nn, q


@settings(max_examples=40, deadline=None)
@given(_status_orders)
def test_cochran_oracle_matches_brute(rows):
    assume(len({t for _, t, _ in rows}) >= 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_custkey BIGINT, c_nationkey BIGINT)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?)",
        [(g, g) for g in sorted({g for g, _, _ in rows})],
    )
    con.execute(
        "CREATE TABLE orders(o_custkey BIGINT, o_orderpriority VARCHAR,"
        " o_totalprice DOUBLE)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(g, t, cents / 100.0) for g, t, cents in rows],
    )
    n_blocks, k, nn, q = _cochran_brute(rows)
    got = con.execute(REG["stats_cochran_q"].oracle).fetchone()
    assert got[0] == n_blocks and got[1] == k and got[2] == k - 1
    assert got[3] == nn
    if q is None:
        # empty kept set or a zero denominator: DuckDB's zero-divisor
        # NULL, mirrored by try_divide on the Spark side
        assert got[4] is None
    else:
        assert math.isclose(got[4], round(q, 6), abs_tol=1e-6)


# -------------------------------------------------------------- page trend

def _page_brute(rows):
    cells: dict[tuple[int, str], int] = {}
    for g, t, cents in rows:
        cells[(g, t)] = cells.get((g, t), 0) + cents
    ts = sorted({t for (_, t) in cells})
    k = len(ts)
    gs = [
        g
        for g in {g for (g, _) in cells}
        if all((g, t) in cells for t in ts)
    ]
    n = len(gs)
    rsum = {t: 0 for t in ts}
    for g in gs:
        order = sorted(ts, key=lambda t: (-cells[(g, t)], t))
        for i, t in enumerate(order):
            rsum[t] += i + 1
    l_stat = sum((j + 1) * rsum[t] for j, t in enumerate(ts))
    if n == 0:
        return n, k, l_stat, None
    num = l_stat - n * k * (k + 1) ** 2 / 4.0
    den = math.sqrt(n * k * k * (k + 1) ** 2 * (k - 1) / 144.0)
    return n, k, l_stat, (num / den if den else None)


@settings(max_examples=40, deadline=None)
@given(_orders)
def test_page_trend_oracle_matches_brute(rows):
    assume(len({t for _, t, _ in rows}) >= 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_custkey BIGINT, c_nationkey BIGINT)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?)",
        [(g, g) for g in sorted({g for g, _, _ in rows})],
    )
    con.execute(
        "CREATE TABLE orders(o_custkey BIGINT, o_orderpriority VARCHAR,"
        " o_totalprice DOUBLE)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(g, t, cents / 100.0) for g, t, cents in rows],
    )
    n, k, l_stat, z = _page_brute(rows)
    got = con.execute(REG["stats_page_trend"].oracle).fetchone()
    assert got[0] == n and got[1] == k and got[2] == l_stat
    if z is None:
        assert got[3] is None
    else:
        assert math.isclose(got[3], round(z, 6), abs_tol=1e-6)
        assert got[4] == (1 if z > 1.645 else 0)


# ---------------------------------------------------------------- bartlett

# (grp, cents): small value domain so zero-variance and singleton
# groups (both excluded by the exact integer guard) appear often.
_valued_events = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
    min_size=1,
    max_size=60,
)


def _rnd0(x: float) -> int:
    # ROUND(x, 0) half-away-from-zero (both engines), not banker's
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _bartlett_brute(rows):
    groups: dict[str, list[int]] = {}
    for g, cents in rows:
        groups.setdefault(g, []).append(cents)
    kept = {}
    for g, xs in groups.items():
        ng, sg, ssg = len(xs), sum(xs), sum(v * v for v in xs)
        if ng >= 2 and ng * ssg > sg * sg:
            kept[g] = (ng, sg, ssg)
    k = len(kept)
    n = sum(ng for ng, _, _ in kept.values())
    sq1 = sq2 = sq3 = 0
    for ng, sg, ssg in kept.values():
        ss = ssg - sg * sg / ng
        s2 = ss / (ng - 1)
        sq1 += _rnd0((ng - 1.0) * math.log(s2) * 1e6)
        sq2 += _rnd0(ss * 1e6)
        sq3 += _rnd0(1e12 / (ng - 1.0))
    if k < 2 or n == k:
        return k, n, None
    sp2 = (sq2 / 1e6) / (n - k)
    num = (n - k) * _rnd0(math.log(sp2) * 1e6) / 1e6 - sq1 / 1e6
    corr = 1.0 + (sq3 / 1e12 - 1.0 / (n - k)) / (3.0 * (k - 1.0))
    return k, n, num / corr


@settings(max_examples=40, deadline=None)
@given(_valued_events)
def test_bartlett_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_type VARCHAR, value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [(g, cents / 100.0) for g, cents in rows],
    )
    k, n, t = _bartlett_brute(rows)
    got = con.execute(REG["stats_bartlett"].oracle).fetchone()
    assert got[0] == k and got[1] == n and got[2] == k - 1
    if t is None:
        assert got[3] is None
        assert got[4] == 0
    else:
        # brute uses Python libm; engine ln may differ in the last ulp
        # BEFORE quantization, so allow one e6 quantum per log term
        assert math.isclose(got[3], round(t, 6), abs_tol=2e-5)


# ------------------------------------------------------ seasonal mann-kendall

# (epoch day, type, whole value): integer values keep ROUND(SUM,2)
# exact so the brute can mirror the bucket aggregation bit-for-bit;
# a short day range forces seasons with 0/1 members (v18 = 0, S = 0).
_daily_events = st.lists(
    st.tuples(
        st.integers(0, 20),
        st.sampled_from(["click", "view"]),
        st.integers(-5, 5),
    ),
    min_size=1,
    max_size=80,
)


def _smk_brute(rows):
    daily: dict[tuple[str, int], int] = {}
    for d, t, v in rows:
        daily[(t, d)] = daily.get((t, d), 0) + v
    out = []
    for typ in sorted({t for t, _ in daily}):
        ds = sorted(d for (t, d) in daily if t == typ)
        s = 0
        v18 = 0
        n_seasons = len({d % 7 for d in ds})
        for w in range(7):
            sd = [d for d in ds if d % 7 == w]
            if not sd:
                continue
            n = len(sd)
            v18 += n * (n - 1) * (2 * n + 5)
            for i in range(len(sd)):
                for j in range(i + 1, len(sd)):
                    va, vb = daily[(typ, sd[i])], daily[(typ, sd[j])]
                    s += 1 if vb > va else (-1 if vb < va else 0)
        if s > 0:
            z = (s - 1.0) / math.sqrt(v18 / 18.0)
        elif s < 0:
            z = (s + 1.0) / math.sqrt(v18 / 18.0)
        else:
            z = 0.0
        verdict = (
            "increasing"
            if s > 0 and z > 1.96
            else ("decreasing" if s < 0 and z < -1.96 else "no_trend")
        )
        out.append((typ, n_seasons, s, round(z, 6), verdict))
    return out


@settings(max_examples=40, deadline=None)
@given(_daily_events)
def test_seasonal_mk_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(ts TIMESTAMP, event_type VARCHAR,"
                " value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?)",
        [
            (
                datetime.datetime(1970, 1, 1)
                + datetime.timedelta(days=d, minutes=13),
                t,
                float(v),
            )
            for d, t, v in rows
        ],
    )
    got = sorted(con.execute(REG["ts_seasonal_mann_kendall"].oracle).fetchall())
    want = _smk_brute(rows)
    assert [r[:3] for r in got] == [r[:3] for r in want]
    for g, w in zip(got, want):
        assert math.isclose(g[3], w[3], abs_tol=1e-6)
        assert g[4] == w[4]


# ------------------------------------------------------------------- icc

# (target g, cents): singleton targets, single-target designs, and
# zero-variance targets all appear; the quantized Sum S_i^2/n_i term
# mirrors the oracle bit-for-bit.
_rated = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-40, 40)),
    min_size=1,
    max_size=60,
)


def _icc_brute(rows):
    groups: dict[int, list[int]] = {}
    for g, x in rows:
        groups.setdefault(g, []).append(x)
    k = len(groups)
    n = len(rows)
    sn2 = sum(len(xs) ** 2 for xs in groups.values())
    sq = sum(
        _rnd0(float(sum(xs)) * float(sum(xs)) / len(xs) * 1e6)
        for xs in groups.values()
    )
    gx = sum(x for _, x in rows)
    gxx = sum(x * x for _, x in rows)
    if k < 2 or n == k:
        return k, n, None, None, None
    msb = (sq / 1e6 - float(gx) * float(gx) / n) / (k - 1.0)
    msw = (gxx - sq / 1e6) / (n - k)
    n0 = (n - sn2 / n) / (k - 1.0)
    den = msb + (n0 - 1.0) * msw
    icc = (msb - msw) / den if den != 0 else None
    return k, n, msb, msw, icc


@settings(max_examples=40, deadline=None)
@given(_rated)
# an exact decimal tie: MSW is 129.75625, which the oracle rounds up and
# Python's round() down
@example([(0, 0), (0, 33), (1, 0), (1, 0), (1, 0), (1, 0), (1, 1), (2, 0), (2, 0), (2, 12), (2, -19)])
def test_icc_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(user_id BIGINT, value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [(g, cents / 100.0) for g, cents in rows],
    )
    k, n, msb, msw, icc = _icc_brute(rows)
    got = con.execute(REG["stats_icc_oneway"].oracle).fetchone()
    assert got[0] == k and got[1] == n
    if msb is None:
        assert got[2] is None or got[3] is None
    else:
        # the oracle's rounded value lies within half its rounding unit
        # of the unrounded brute value (plus float slack), whichever way
        # the two sides break a tie
        assert abs(got[2] - msb) <= 0.5e-4 + 1e-9
        assert abs(got[3] - msw) <= 0.5e-4 + 1e-9
        if icc is None:
            assert got[4] is None
        else:
            assert abs(got[4] - icc) <= 0.5e-6 + 1e-9


# ---------------------------------------------------------- durbin-watson

_hourly_valued = st.lists(
    st.tuples(
        st.integers(0, 30),
        st.sampled_from(["click", "view"]),
        st.integers(-5, 5),
    ),
    min_size=1,
    max_size=80,
)


def _dw_brute(rows):
    grid: dict[tuple[str, int], int] = {}
    for h, t, v in rows:
        grid[(t, h)] = grid.get((t, h), 0) + v
    out = []
    for typ in sorted({t for t, _ in grid}):
        hs = sorted(h for (t, h) in grid if t == typ)
        vc = [grid[(typ, h)] * 100 for h in hs]
        n = len(hs)
        sh, sv = sum(hs), sum(vc)
        shv = sum(h * v for h, v in zip(hs, vc))
        shh = sum(h * h for h in hs)
        den_i = n * shh - sh * sh
        if den_i == 0:
            out.append((typ, n, None, "none"))
            continue
        beta = float(n * shv - sh * sv) / float(den_i)
        alpha = (float(sv) - beta * float(sh)) / float(n)
        es = [v - (alpha + beta * h) for h, v in zip(hs, vc)]
        qn = sum(
            _rnd0((es[i] - es[i - 1]) * (es[i] - es[i - 1]) * 1e6)
            for i in range(1, n)
        )
        qd = sum(_rnd0(e * e * 1e6) for e in es)
        if qd == 0:
            out.append((typ, n, None, "none"))
            continue
        dw = qn / qd
        verdict = (
            "positive_autocorr"
            if dw < 1.5
            else ("negative_autocorr" if dw > 2.5 else "none")
        )
        out.append((typ, n, round(dw, 6), verdict))
    return out


@settings(max_examples=40, deadline=None)
@given(_hourly_valued)
def test_durbin_watson_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(ts TIMESTAMP, event_type VARCHAR,"
                " value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?)",
        [
            (
                datetime.datetime(1970, 1, 1)
                + datetime.timedelta(hours=h, minutes=19),
                t,
                float(v),
            )
            for h, t, v in rows
        ],
    )
    got = sorted(con.execute(REG["ts_durbin_watson"].oracle).fetchall())
    want = _dw_brute(rows)
    assert [r[:2] for r in got] == [r[:2] for r in want]
    for g, w in zip(got, want):
        if w[2] is None:
            assert g[2] is None
        else:
            assert math.isclose(g[2], w[2], abs_tol=1e-5)
        assert g[3] == w[3]


# ------------------------------------------------------- asof interpolate

_click_purchase = st.lists(
    st.tuples(
        st.integers(0, 20),
        st.integers(0, 2),
        st.sampled_from(["click", "purchase"]),
        st.integers(-9, 9),
    ),
    min_size=1,
    max_size=50,
)


def _interp_brute(rows):
    obs: dict[tuple[int, int], int] = {}
    for h, u, t, v in rows:
        if t == "purchase":
            obs[(u, h)] = obs.get((u, h), 0) + v
    out = []
    for h, u, t, _ in rows:
        if t != "click":
            continue
        tt = h * 3600 + 420
        prevs = [hh for (uu, hh) in obs if uu == u and hh <= h]
        nexts = [hh for (uu, hh) in obs if uu == u and hh >= h]
        t0 = max(prevs) * 3600 + 420 if prevs else None
        t1 = min(nexts) * 3600 + 420 if nexts else None
        v0 = float(obs[(u, max(prevs))]) if prevs else None
        v1 = float(obs[(u, min(nexts))]) if nexts else None
        if t0 is None and t1 is None:
            val, method = None, "none"
        elif t0 is None:
            val, method = v1, "backfill"
        elif t1 is None:
            val, method = v0, "hold"
        elif t1 == t0:
            val, method = v0, "exact"
        else:
            val = v0 + (v1 - v0) * (float(tt - t0) / float(t1 - t0))
            method = "interp"
        out.append(
            (u, tt, t0, t1, round(val, 4) if val is not None else None, method)
        )
    return sorted(out)


@settings(max_examples=40, deadline=None)
@given(_click_purchase)
def test_asof_interpolate_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE events(ts TIMESTAMP, user_id BIGINT,"
                " event_type VARCHAR, value DOUBLE)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?)",
        [
            (
                datetime.datetime(1970, 1, 1)
                + datetime.timedelta(hours=h, minutes=7),
                u,
                t,
                float(v),
            )
            for h, u, t, v in rows
        ],
    )
    got = sorted(con.execute(REG["join_asof_interpolate"].oracle).fetchall())
    want = _interp_brute(rows)
    assert [r[:4] for r in got] == [r[:4] for r in want]
    assert [r[5] for r in got] == [r[5] for r in want]
    for g, w in zip(got, want):
        if w[4] is None:
            assert g[4] is None
        else:
            assert math.isclose(g[4], w[4], abs_tol=1e-9)
