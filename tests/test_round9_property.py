"""Property tests for the round-9 additions: each query's oracle SQL
(or its closed-form identity) must equal brute-force Python on
arbitrary small hostile inputs — ties, single-element groups, empty
text, duplicate hours, degenerate clusters. Spark == oracle is pinned
by test_oracle_parity, so brute ↔ oracle closes the chain without a
Spark session per hypothesis example (the test_kgroup_property
pattern)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from serverless_datalake_spark.queries import load_registry

REG = load_registry()


# ---------------------------------------------------------------- kendall tau
_qd_rows = st.lists(
    st.tuples(st.integers(1, 6), st.sampled_from([0.0, 0.02, 0.05, 0.08])),
    min_size=4,
    max_size=60,
)


def _tau_brute(rows):
    n = len(rows)
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (rows[i][0] > rows[j][0]) - (rows[i][0] < rows[j][0])
            dy = (rows[i][1] > rows[j][1]) - (rows[i][1] < rows[j][1])
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    tx = Counter(x for x, _ in rows)
    ty = Counter(y for _, y in rows)
    n1 = sum(c * (c - 1) // 2 for c in tx.values())
    n2 = sum(c * (c - 1) // 2 for c in ty.values())
    return conc, disc, (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))


@settings(max_examples=40, deadline=None)
@given(_qd_rows)
def test_kendall_tau_oracle_matches_brute(rows):
    assume(len({x for x, _ in rows}) >= 2)
    assume(len({y for _, y in rows}) >= 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem(l_quantity BIGINT, l_discount DOUBLE)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    got = con.execute(REG["stats_kendall_tau"].oracle).fetchone()
    conc, disc, tau = _tau_brute(rows)
    assert got[0] == len(rows)
    assert got[1] == conc and got[2] == disc
    assert math.isclose(got[3], round(tau, 6), abs_tol=2e-6)


# ----------------------------------------------------------------- theil T
_bal_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(1, 99999)),  # acctbal cents > 0
    min_size=3,
    max_size=50,
)


def _theil_brute(rows):
    xs = [c for _, c in rows]
    n, mu = len(xs), sum(xs) / len(xs)
    t_total = sum((x / mu) * math.log(x / mu) for x in xs) / n
    groups: dict[int, list[int]] = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c)
    s = sum(xs)
    t_between = sum(
        (sum(v) / s) * math.log((sum(v) / s) / (len(v) / n))
        for v in groups.values()
    )
    t_within = 0.0
    for v in groups.values():
        mg = sum(v) / len(v)
        tg = sum((x / mg) * math.log(x / mg) for x in v) / len(v)
        t_within += (sum(v) / s) * tg
    return t_total, t_between, t_within


@settings(max_examples=40, deadline=None)
@given(_bal_rows)
def test_theil_oracle_matches_brute(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE customer(c_nationkey BIGINT, c_acctbal DOUBLE)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?)", [(g, c / 100.0) for g, c in rows]
    )
    got = con.execute(REG["agg_theil_inequality"].oracle).fetchone()
    t_total, t_between, t_within = _theil_brute(rows)
    assert got[0] == len(rows)
    # e4 quantization of x*ln(x) and 8-dec term rounds: loose abs_tol
    assert math.isclose(got[1], t_total, abs_tol=1e-4)
    assert math.isclose(got[2], t_between, abs_tol=1e-4)
    assert math.isclose(got[3], t_within, abs_tol=1e-4)
    # the decomposition must add up (computed values, not brute)
    assert math.isclose(got[1], got[2] + got[3], abs_tol=5e-4)


# ------------------------------------------------------- krippendorff alpha
@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 3), min_size=2, max_size=200))
def test_krippendorff_closed_form_matches_coincidence(n1s):
    """The closed form 1 - (n-1)*D/(2*s1*(n-s1)) must equal the
    textbook coincidence-matrix alpha for 3 raters, binary values."""
    s1 = sum(n1s)
    big_n = len(n1s)
    assume(0 < s1 < 3 * big_n)  # both categories present
    # coincidence matrix: o_ck = sum_i n_ic * (n_ik - delta) / (n_i - 1)
    o11 = sum(c * (c - 1) / 2 for c in n1s)
    o00 = sum((3 - c) * (2 - c) / 2 for c in n1s)
    o01 = sum(c * (3 - c) / 2 for c in n1s)  # = o10
    n_tot = o11 + o00 + 2 * o01
    assert math.isclose(n_tot, 3 * big_n)
    n1m = o11 + o01
    n0m = o00 + o01
    d_o = 2 * o01 / n_tot
    d_e = 2 * n1m * n0m / (n_tot * (n_tot - 1))
    alpha_text = 1 - d_o / d_e
    dd = sum(c * (3 - c) for c in n1s)
    nv = 3 * big_n
    alpha_closed = 1 - (nv - 1) * dd / (2 * s1 * (nv - s1))
    assert math.isclose(alpha_text, alpha_closed, rel_tol=1e-12)


# ------------------------------------------------------------- kendall W
@settings(max_examples=60, deadline=None)
@given(st.integers(3, 30), st.randoms(use_true_random=False))
def test_kendall_w_doubled_form_matches_textbook(n, rnd):
    """(2r - m(n+1))^2 summed equals 4S for any 3 permutations."""
    m = 3
    perms = []
    for _ in range(m):
        p = list(range(1, n + 1))
        rnd.shuffle(p)
        perms.append(p)
    r = [sum(perms[j][i] for j in range(m)) for i in range(n)]
    mean = m * (n + 1) / 2
    s = sum((ri - mean) ** 2 for ri in r)
    w_text = 12 * s / (m * m * (n**3 - n))
    s4 = sum((2 * ri - m * (n + 1)) ** 2 for ri in r)
    w_doubled = 3 * s4 / (9 * (n**3 - n))
    assert math.isclose(w_text, w_doubled, rel_tol=1e-12)
    assert 0 <= w_doubled <= 1 + 1e-12


# ------------------------------------------------------------ isotonic PAVA
_bins = st.lists(
    st.tuples(st.integers(1, 20), st.integers(0, 20)).filter(lambda t: t[1] <= t[0]),
    min_size=1,
    max_size=25,
)


def _pava(ws, ps):
    """True pool-adjacent-violators on weighted bins -> fitted rates."""
    blocks = [[w, p] for w, p in zip(ws, ps)]  # [weight, positives]
    out_idx = [[i] for i in range(len(ws))]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] * blocks[i + 1][0] > blocks[i + 1][1] * blocks[i][0]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            out_idx[i].extend(out_idx[i + 1])
            del blocks[i + 1], out_idx[i + 1]
            if i > 0:
                i -= 1
        else:
            i += 1
    fitted = [0.0] * len(ws)
    for blk, idxs in zip(blocks, out_idx):
        for k in idxs:
            fitted[k] = blk[1] / blk[0]
    return fitted


def _minimax(ws, ps):
    n = len(ws)
    fitted = []
    for k in range(n):
        best = -math.inf
        for i in range(k + 1):
            worst = math.inf
            for j in range(k, n):
                m = sum(ps[i : j + 1]) / sum(ws[i : j + 1])
                worst = min(worst, m)
            best = max(best, worst)
        fitted.append(best)
    return fitted


@settings(max_examples=60, deadline=None)
@given(_bins)
def test_isotonic_minimax_identity_equals_pava(bins):
    ws = [w for w, _ in bins]
    ps = [p for _, p in bins]
    a, b = _pava(ws, ps), _minimax(ws, ps)
    for x, y in zip(a, b):
        assert math.isclose(x, y, abs_tol=1e-9)


# ------------------------------------------------------------------ skyline
_parts = st.lists(
    st.tuples(st.integers(1, 8), st.integers(100, 120)),  # (size, cents)
    min_size=1,
    max_size=40,
)


@settings(max_examples=40, deadline=None)
@given(_parts)
def test_skyline_oracle_matches_brute(parts):
    rows = [(i + 1, s, c / 100.0) for i, (s, c) in enumerate(parts)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE part(p_partkey BIGINT, p_size BIGINT, p_retailprice DOUBLE)"
    )
    con.executemany("INSERT INTO part VALUES (?, ?, ?)", rows)
    got = {r[0] for r in con.execute(REG["skyline_frontier_2d"].oracle).fetchall()}
    want = set()
    for pk, s, pr in rows:
        c = round(pr * 100)
        dominated = any(
            (s2 >= s and round(p2 * 100) <= c and (s2 > s or round(p2 * 100) < c))
            for pk2, s2, p2 in rows
            if pk2 != pk
        )
        if not dominated:
            want.add(pk)
    assert got == want


# ------------------------------------------------------------- CDC chunking
_docs = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40),
    min_size=1,
    max_size=12,
)


def _cdc_brute(texts):
    chunks = []
    for text in texts:
        toks = [t for t in text.split(" ") if t]
        cur = []
        for t in toks:
            cur.append(t)
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            if h % 32 == 0:
                chunks.append(" ".join(cur))
                cur = []
        if cur:
            chunks.append(" ".join(cur))
    if not chunks:
        return None
    cnt = Counter(chunks)
    n = len(chunks)
    dist = len(cnt)
    toks_total = sum(len(c.split(" ")) for c in chunks)
    return (
        n,
        dist,
        round(1 - dist / n, 6),
        max(cnt.values()),
        round(toks_total / n, 6),
    )


@settings(max_examples=40, deadline=None)
@given(_docs)
def test_cdc_oracle_matches_brute(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    got = con.execute(REG["dedup_cdc_chunks"].oracle).fetchone()
    want = _cdc_brute(texts)
    if want is None:
        assert got[0] is None or got[0] == 0
        return
    assert got[0] == want[0] and got[1] == want[1]
    assert math.isclose(got[2], want[2], abs_tol=1e-6)
    assert got[3] == want[3]
    assert math.isclose(got[4], want[4], abs_tol=1e-6)


# ------------------------------------------------------------------ k-means
_vecs = st.lists(
    st.lists(
        st.floats(-1, 1, allow_nan=False, allow_infinity=False, width=32),
        min_size=3,
        max_size=3,
    ),
    min_size=1,
    max_size=30,
)


def _kmeans_brute(vecs):
    qvs = [[math.floor(x * 64.0) for x in v] for v in vecs]
    k = min(4, len(qvs))
    cents = [list(qvs[i]) for i in range(k)]  # vec_id = index, already sorted

    def assign():
        out = []
        for q in qvs:
            dists = [sum((a - b) ** 2 for a, b in zip(q, c)) for c in cents]
            j = dists.index(min(dists))
            out.append((j, dists[j]))
        return out

    for _ in range(2):
        a = assign()
        sums = {}
        for (j, _), q in zip(a, qvs):
            acc = sums.setdefault(j, [0] * (len(q) + 1))
            for d, x in enumerate(q):
                acc[d] += x
            acc[-1] += 1
        for j in range(k):
            if j in sums:
                acc = sums[j]
                n = acc[-1]
                cents[j] = [math.floor((2 * s + n) / (2 * n)) for s in acc[:-1]]
    final = assign()
    per = {}
    for j, d in final:
        cnt, tot = per.get(j, (0, 0))
        per[j] = (cnt + 1, tot + d)
    return {
        j: (cnt, tot, round(tot / cnt, 6)) for j, (cnt, tot) in per.items()
    }


@settings(max_examples=30, deadline=None)
@given(_vecs)
def test_kmeans_oracle_matches_brute(vecs):
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", list(enumerate(vecs))
    )
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(REG["model_kmeans_lloyd"].oracle).fetchall()
    }
    want = _kmeans_brute(vecs)
    assert set(got) == set(want)
    for j in want:
        assert got[j][0] == want[j][0], (j, got, want)
        assert got[j][1] == want[j][1]
        assert math.isclose(got[j][2], want[j][2], abs_tol=1e-6)


# ------------------------------------------------------------------ granger
@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=6,
        max_size=40,
    )
)
def test_granger_closed_form_matches_lstsq(series):
    """The centered 2x2 normal-equation F must match numpy lstsq RSS."""
    import numpy as np

    ys = [a / 1.0 for a, _ in series]
    xs = [b / 1.0 for _, b in series]
    y = np.array(ys[1:])
    a = np.array(ys[:-1])
    b = np.array(xs[:-1])
    t = len(y)
    xu = np.column_stack([np.ones(t), a, b])
    xr = np.column_stack([np.ones(t), a])
    # guard collinear/constant inputs where the fit is ill-posed
    assume(np.linalg.matrix_rank(xu) == 3)
    rss_u = float(np.sum((y - xu @ np.linalg.lstsq(xu, y, rcond=None)[0]) ** 2))
    rss_r = float(np.sum((y - xr @ np.linalg.lstsq(xr, y, rcond=None)[0]) ** 2))
    assume(rss_u > 1e-9)
    f_np = (rss_r - rss_u) * (t - 3) / rss_u
    # closed form from centered moments (what both engines evaluate)
    cyy = float(np.sum(y * y) - y.sum() ** 2 / t)
    caa = float(np.sum(a * a) - a.sum() ** 2 / t)
    cbb = float(np.sum(b * b) - b.sum() ** 2 / t)
    cya = float(np.sum(y * a) - y.sum() * a.sum() / t)
    cyb = float(np.sum(y * b) - y.sum() * b.sum() / t)
    cab = float(np.sum(a * b) - a.sum() * b.sum() / t)
    det = caa * cbb - cab * cab
    assume(abs(det) > 1e-9 and caa > 1e-9)
    beta_a = (cya * cbb - cyb * cab) / det
    beta_b = (cyb * caa - cya * cab) / det
    rss_u2 = cyy - beta_a * cya - beta_b * cyb
    rss_r2 = cyy - cya * cya / caa
    f_cf = (rss_r2 - rss_u2) * (t - 3) / rss_u2
    assert math.isclose(f_np, f_cf, rel_tol=1e-6, abs_tol=1e-6)


# ------------------------------------------------------ wilcoxon signed rank
_wil_rows = st.lists(
    st.tuples(
        st.integers(1, 12),            # supplier
        st.integers(1, 6),             # month
        st.sampled_from([100.0, 250.0, 399.99]),
    ),
    min_size=6,
    max_size=60,
)


def _wilcoxon_brute(pairs):
    """pairs: {supplier: d_cents}; returns (n, w_plus, z)."""
    nz = [(s, d) for s, d in pairs.items() if d != 0]
    if not nz:
        return None
    ads = [abs(d) for _, d in nz]
    cnt = Counter(ads)
    ranks, pos = {}, 0
    for v in sorted(cnt):
        c = cnt[v]
        ranks[v] = pos + (c + 1) / 2
        pos += c
    n = len(nz)
    w_plus = sum(ranks[abs(d)] for _, d in nz if d > 0)
    t3 = sum(c**3 - c for c in cnt.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - t3 / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    return n, w_plus, z


@settings(max_examples=40, deadline=None)
@given(_wil_rows)
def test_wilcoxon_oracle_matches_brute(rows):
    # build lineitem rows: month <= 6 -> first half, else second half
    li = []
    pairs: dict[int, int] = {}
    for i, (s, mo, price) in enumerate(rows):
        # alternate halves deterministically to create +/- diffs
        month = mo if i % 2 == 0 else mo + 6
        li.append((s, f"1995-{month:02d}-15", price))
        cents = round(price * 100)
        pairs[s] = pairs.get(s, 0) + (cents if month <= 6 else -cents)
    want = _wilcoxon_brute(pairs)
    assume(want is not None)
    n, w_plus, z = want
    assume(len({abs(d) for d in pairs.values() if d != 0}) >= 1)
    # degenerate: all same sign still fine; var>0 unless n==... var>0 always for n>=1 unless all tied AND t3 eats it (impossible: t3/48 < n(n+1)(2n+1)/24)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem(l_suppkey BIGINT, l_shipdate DATE,"
        " l_extendedprice DOUBLE)"
    )
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?)", li)
    got = con.execute(REG["stats_wilcoxon_signed_rank"].oracle).fetchone()
    assert got[0] == n
    assert math.isclose(got[1], round(w_plus, 1), abs_tol=1e-9)
    assert math.isclose(got[2], round(z, 6), abs_tol=2e-6)


# --------------------------------------------------------------- CMH pooled
@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.booleans(), st.booleans()),
        min_size=8,
        max_size=120,
    )
)
def test_cmh_oracle_matches_brute(rows):
    """rows: (stratum, exposed, outcome) — brute-force the MH odds
    ratio and CMH chi2 from per-stratum 2x2 tables."""
    # map to customer columns: exposure = acctbal > 5000,
    # outcome = mktsegment in (BUILDING, AUTOMOBILE)
    cust = [
        (k, 9000.0 if e else 100.0, "BUILDING" if o else "MACHINERY")
        for k, e, o in rows
    ]
    strata: dict[int, list[int]] = {}
    for k, e, o in rows:
        t = strata.setdefault(k, [0, 0, 0, 0])  # a=11 b=10 c=01 d=00
        idx = 0 if (e and o) else 1 if e else 2 if o else 3
        t[idx] += 1
    r = s_ = devs = vars_ = 0.0
    n_strata = 0
    for k in sorted(strata):
        a, b, c, d = strata[k]
        n = a + b + c + d
        if n <= 1:
            continue
        n_strata += 1
        r += round(a * d / n, 8)
        s_ += round(b * c / n, 8)
        devs += round(a - (a + b) * (a + c) / n, 8)
        vars_ += round(
            (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)), 8
        )
    assume(n_strata >= 1 and s_ > 0 and vars_ > 0)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer(c_nationkey BIGINT, c_acctbal DOUBLE,"
        " c_mktsegment VARCHAR)"
    )
    con.executemany("INSERT INTO customer VALUES (?, ?, ?)", cust)
    got = con.execute(REG["stats_cmh_pooled_odds"].oracle).fetchone()
    assert got[0] == n_strata
    assert math.isclose(got[1], round(r / s_, 6), abs_tol=2e-6)
    assert math.isclose(got[2], round(devs * devs / vars_, 6), abs_tol=2e-6)


# ----------------------------------------------------------------- FORCAST
@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.text(alphabet="ba e", min_size=1, max_size=30),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_forcast_oracle_matches_brute(docs):
    import re as _re

    per_lang: dict[str, list[tuple[int, int]]] = {}
    for lang, text in docs:
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        mono = sum(
            1 for t in toks if len(_re.findall(r"[aeiouy]+", t)) == 1
        )
        per_lang.setdefault(lang, []).append((len(toks), mono))
    assume(per_lang)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    got = {
        row[0]: row[1:]
        for row in con.execute(REG["text_readability_forcast"].oracle).fetchall()
    }
    assert set(got) == set(per_lang)

    def round6(x: float) -> float:
        # ROUND(x, 6) as the oracle and Spark round: half-up on the
        # shortest decimal form (Python's round() took 421429 / 80000 =
        # 5.2678625 down to 5.267862, the oracle up to 5.267863)
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    for lang, stats in per_lang.items():
        grades = [round((20.0 - 15.0 * m / w) * 10000) for w, m in stats]
        n = len(stats)
        assert got[lang][0] == n
        assert math.isclose(got[lang][1], round6(sum(grades) / (10000.0 * n)), abs_tol=1e-6)
        mono_share = sum(m for _, m in stats) / sum(w for w, _ in stats)
        assert math.isclose(got[lang][2], round6(mono_share), abs_tol=1e-6)
