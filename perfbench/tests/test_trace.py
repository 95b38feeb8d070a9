import pytest

from perfbench.trace import OpRecord, Span, covered, self_times


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3)]) == 3
    assert covered([(1, 3), (0, 5), (4, 6)]) == 6


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op.ingest", 0.0, 10.0, None, 0),
        Span(1, "lake.write_partitioned", 1.0, 4.0, 0, 0),
        Span(2, "ingest.fan_out", 5.0, 9.0, 0, 0),
        Span(3, "inner", 6.0, 7.0, 2, 0),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(3.0), 1: pytest.approx(3.0), 2: pytest.approx(3.0), 3: pytest.approx(1.0)}
    # self times of an op's spans add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_clips_children_to_parent_and_merges_overlap():
    spans = [
        Span(0, "root", 0.0, 4.0, None, 0),
        Span(1, "a", -1.0, 2.0, 0, 0),  # starts before its parent
        Span(2, "b", 1.0, 3.0, 0, 0),  # overlaps a
        Span(3, "c", 5.0, 6.0, 0, 0),  # wholly outside: covers nothing
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(3.0) and st[2] == pytest.approx(2.0) and st[3] == pytest.approx(1.0)


def test_scans_are_attributed_by_root_path():
    rec = OpRecord(0, "replay", True)
    rec.scans = {
        1: ("file:/w/catalog", 4, 36),
        2: ("file:/w/catalog", 4, 36),  # a second scan of the same table
        3: ("file:/w/lake", 10, 68000),
        4: ("file:/w/catalog_old", 9, 99),  # shares a prefix, not the directory
        5: ("file:/w/delivery/source=clicks", 2, 500),
    }
    assert rec.scanned("/w/catalog") == (8, 72)
    assert rec.scanned("/w/lake/") == (10, 68000)
    assert rec.scanned("/w/delivery") == (2, 500)
