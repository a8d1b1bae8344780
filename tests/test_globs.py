"""Glob conformance: ports of /root/reference/glob_test.go tables plus
the reference's known-failure cases (which we fix) and anchoring fixes.
See FIXTURES.md §A6."""

import pytest

from filemapreduce_spark.globs import MultiFilter, PathFilter

# ported from glob_test.go:7-34 (CouldMatch table)
COULD_MATCH = [
    ("*/*", "foo", True),          # partial directory
    ("*o", "foo", True),           # partial match
    ("foo/*", "foo", True),        # exact directory
    ("bar/*", "foo", False),       # non-matching directory
    ("*", "foo.json", True),       # matching file
    ("**/foo.json", "a", True),    # recursive directory
    ("a/b/foo.json", "a/b", True), # two directory depth
    ("*/c", "a/b", False),         # non-matching sub directory
]

# ported from glob_test.go:36-63 (Match table)
MATCH = [
    ("*/*", "foo/bar.json", True),          # two wild
    ("*.json", "bar.json", True),           # file match wild
    ("*.txt", "bar.json", False),           # no file match
    ("**/a.txt", "a/b/c/a.txt", True),      # recursive match
    ("*/*/a.txt", "a/b/c/a.txt", False),    # too deep
    ("**/*", "a/b/c/a.txt", True),          # recursive and wildcard
    ("a/**", "a/b/c/a.txt", True),          # front recursive
    ("a/**/c/a.txt", "a/b/c/a.txt", True),  # middle recursive
]

# reference known-failures (glob_test.go:65-88) — our engine fixes them
FIXED = [
    ("**/**", "foo/bar.json", True),
    ("**/foo/**", "a/foo/bar.json", True),
]

# anchoring fixes (reference quirk 3: unanchored regex, glob.go:145-154)
ANCHORED = [
    ("*.json", "x.jsonk", False),
    ("*.json", "prefix_x.json", True),
    ("a*.txt", "xa.txt", False),
]

# '**' requires ≥1 segment (encoded by golden mapreduce_test.go:431-503)
RECURSIVE_DEPTH = [
    ("**/file.txt", "file.txt", False),
    ("**/file.txt", "folder/file.txt", True),
    ("**/file.txt", "folder/folder/file.txt", True),
    ("a/**", "a", False),
    ("**", "anything/at/all", True),
    ("**", "file.txt", True),
]


@pytest.mark.parametrize("pattern,path,expected", COULD_MATCH)
def test_could_match_table(pattern, path, expected):
    assert PathFilter(pattern).could_match(path) is expected


@pytest.mark.parametrize(
    "pattern,path,expected", MATCH + FIXED + ANCHORED + RECURSIVE_DEPTH
)
def test_match_table(pattern, path, expected):
    assert PathFilter(pattern).match(path) is expected


@pytest.mark.parametrize(
    "pattern,path,expected", MATCH + FIXED + ANCHORED + RECURSIVE_DEPTH
)
def test_regex_agrees_with_match(pattern, path, expected):
    """``to_regex`` must agree with the Python matcher (it's what the
    DataFrame plan uses via rlike)."""
    import re

    assert bool(re.search(PathFilter(pattern).to_regex(), path)) is expected


def test_multifilter_or():
    # cf. mapreduce_test.go:450-453
    mf = MultiFilter("file.txt", "**/file.txt")
    assert mf.match("file.txt")
    assert mf.match("folder/file.txt")
    assert not mf.match("folder/other.txt")
    assert mf.could_match("folder")


def test_match_implies_could_match():
    from hypothesis import given, strategies as st

    seg = st.sampled_from(["a", "b", "foo", "*", "**", "*.txt", "a*"])
    pat = st.lists(seg, min_size=1, max_size=4).map("/".join)
    pseg = st.sampled_from(["a", "b", "foo", "x.txt", "a.txt"])
    path = st.lists(pseg, min_size=1, max_size=4).map("/".join)

    @given(pat, path)
    def check(pattern, p):
        f = PathFilter(pattern)
        if f.match(p):
            assert f.could_match(p)
        # every proper prefix of a matching path could_match
        segs = p.split("/")
        if f.match(p):
            for i in range(1, len(segs)):
                assert f.could_match("/".join(segs[:i]))

    check()
