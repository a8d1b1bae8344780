"""The seeded input generators are deterministic."""

from perfbench import tables, trees


def test_same_seed_same_tables(tmp_path):
    a = tables.write_tables(5, str(tmp_path / "a"))
    b = tables.write_tables(5, str(tmp_path / "b"))
    c = tables.write_tables(6, str(tmp_path / "c"))
    assert a.digest == b.digest != c.digest


def test_same_seed_same_tree():
    a, b, c = trees.shared_scan_tree(5), trees.shared_scan_tree(5), trees.shared_scan_tree(6)
    assert a.digest == b.digest != c.digest
    assert a.expected == b.expected
