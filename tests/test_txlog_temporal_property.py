"""Property tests for the txlog zone-map comparators: whatever mix of
date / naive-datetime / tz-aware-datetime / plain-string values lands
in a zone map, ordered and equality prunes must NEVER claim disjoint
when real datetime semantics say the file could hold matching rows (a
false prune silently drops committed data; "ambiguous → keep" is
always legal). An equality prune is the range prune of a partition
value's zone map [s, s] against the probe's [v, v]."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from serverless_datalake_spark.sources.txlog import (
    _may_overlap,
    _ord_pair,
    _stat_repr,
    _temporal_key,
)


def _member(stored, probe) -> bool:
    """live_files_pruned's rule for one value: the file's zone map
    [stored, stored] may overlap [probe, probe]."""
    return _may_overlap([stored, stored], probe, probe)

# timestamps within a few years, second resolution (what fixtures use)
_dts = st.datetimes(
    min_value=dt.datetime(2020, 1, 1),
    max_value=dt.datetime(2030, 1, 1),
).map(lambda d: d.replace(microsecond=0))
_dates = st.dates(min_value=dt.date(2020, 1, 1), max_value=dt.date(2030, 1, 1))
_temporal = st.one_of(_dts, _dates)


def _as_dt(v) -> dt.datetime:
    """Real-semantics view: a date means its midnight instant."""
    if isinstance(v, dt.datetime):
        return v
    return dt.datetime(v.year, v.month, v.day)


@given(stat=_temporal, probe=_temporal)
@settings(max_examples=300, deadline=None)
def test_ord_pair_orders_like_real_datetimes(stat, probe):
    """For any date/datetime mix, _ord_pair on the stored reprs either
    abstains (None → file kept) or orders EXACTLY like the underlying
    instants — never a wrong direction, which is what turns into a
    false prune."""
    pair = _ord_pair(_stat_repr(stat), probe)
    if pair is None:
        return  # abstention is always safe
    a, b = pair
    ra, rb = _as_dt(stat), _as_dt(probe)
    assert (a < b) == (ra < rb)
    assert (a > b) == (ra > rb)


@given(stat=_temporal, probe=_temporal)
@settings(max_examples=300, deadline=None)
def test_stat_matches_never_false_misses(stat, probe):
    """Membership prune: if the stored value and the probe denote the
    SAME instant (date == its midnight datetime), _member must
    say True — a False here prunes a file that holds matching rows."""
    if _as_dt(stat) == _as_dt(probe):
        assert _member(_stat_repr(stat), probe)


@given(v=_dts)
@settings(max_examples=200, deadline=None)
def test_aware_stat_normalizes_to_utc_wall_time(v):
    """pyarrow returns TIMESTAMP(isAdjustedToUTC) stats tz-aware; the
    canonical repr must be the naive UTC wall time, identical to the
    naive repr of the same instant (the session pins UTC)."""
    aware = v.replace(tzinfo=dt.timezone.utc)
    assert _stat_repr(aware) == _stat_repr(v)
    # and non-UTC offsets convert, not truncate
    plus2 = v.replace(tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert _stat_repr(plus2) == _stat_repr(v - dt.timedelta(hours=2))


# fractional-second temporals: microsecond-resolution datetimes, the
# shape TIMESTAMP_MICROS stats actually carry
_dts_frac = st.datetimes(
    min_value=dt.datetime(2020, 1, 1),
    max_value=dt.datetime(2030, 1, 1),
)
_temporal_frac = st.one_of(_dts_frac, _dates)


@given(stat=_temporal_frac, probe=_temporal_frac)
@settings(max_examples=300, deadline=None)
def test_stat_matches_fractional_membership_never_false_misses(stat, probe):
    """The membership prune over microsecond-resolution values: equal
    instants (including a date vs its midnight, and .000000 vs no
    fraction) must match; and the mixed temporal/plain ambiguity rule
    must hold in BOTH argument orders (a false miss drops committed
    rows — the set-semantics analogue of the round-6 zone-map fix)."""
    if _as_dt(stat) == _as_dt(probe):
        assert _member(_stat_repr(stat), probe)
    # symmetric form: the probe's repr stored, the stat used as probe
    if _as_dt(stat) == _as_dt(probe):
        assert _member(_stat_repr(probe), stat)


@given(t=_temporal_frac, s=st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_stat_matches_mixed_format_keeps_file_both_orders(t, s):
    """A temporal-shaped stat probed with a plain string — and a plain
    stat probed with a temporal value — are ambiguous: membership must
    say True (keep the file) unless both sides are plainly unequal
    non-temporal strings."""
    tr = _stat_repr(t)
    if _temporal_key(s) is None:
        assert _member(tr, s) or s == tr
        # plain string stored, temporal probe → probe repr is temporal-
        # shaped, stored is not: ambiguous, must keep
        assert _member(s, t)


_nums = st.one_of(
    st.integers(min_value=-10**12, max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.decimals(allow_nan=False, allow_infinity=False, places=4,
                min_value=-10**9, max_value=10**9),
)


@given(v=_nums)
@settings(max_examples=300, deadline=None)
def test_stat_matches_numeric_flavors_never_false_miss(v):
    """int / float / Decimal flavors of the SAME numeric value must
    all match each other through the stored repr — a writer that
    recorded 1 and a reader probing 1.0 (or Decimal('1.00')) must not
    prune the file. Trailing-zero Decimal forms collapse via
    _stat_repr's canonical plain form."""
    from decimal import Decimal

    stored = _stat_repr(v)
    dv = v if isinstance(v, Decimal) else Decimal(str(v))
    # same value in every flavor the numeric domain can produce
    flavors = [v, dv, dv + Decimal("0.00")]  # trailing-zero variant
    if dv == dv.to_integral_value():
        i = int(dv)
        flavors.append(i)
        if abs(i) < 2**53:  # float-exact range
            flavors.append(float(i))
    for flavor in flavors:
        assert _member(stored, flavor), (stored, flavor)


@given(stat=_temporal_frac, probes=st.lists(_temporal_frac, min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_membership_set_semantics_keep_when_any_probe_matches(stat, probes):
    """live_files_pruned's set form — any(_member(stored, v)) —
    must keep the file whenever ANY probe denotes the stored instant,
    regardless of which date/datetime flavors the list mixes."""
    stored = _stat_repr(stat)
    if any(_as_dt(stat) == _as_dt(p) for p in probes):
        assert any(_member(stored, p) for p in probes)


@given(s=st.text(max_size=30), t=_temporal)
@settings(max_examples=300, deadline=None)
def test_temporal_vs_arbitrary_string_abstains_or_plain(s, t):
    """A temporal stat probed with an arbitrary string (or vice versa)
    must never produce an ordered comparison unless the string itself
    is temporal-shaped — mixed shapes abstain (ordered) or match
    (membership), both of which keep the file."""
    tr = _stat_repr(t)
    if _temporal_key(s) is None:
        assert _ord_pair(tr, s) is None
        assert _member(tr, s) or s == tr
