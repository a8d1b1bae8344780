"""Path-glob filters: the engine's path predicate language.

Semantics (the *intended* semantics of the reference's ``PathFilter``,
cf. /root/reference/glob.go:36-154, with its documented quirks fixed —
see SURVEY.md §2 "Reference quirks"):

- Paths are ``/``-separated, relative (no leading slash).
- ``*`` inside a segment matches any run of characters *within* that
  segment (never crosses ``/``). Partial use is allowed (``*.json``).
  Matching is ANCHORED: ``*.json`` does NOT match ``x.jsonk`` (fixes
  the reference's unanchored regexp.Match at glob.go:145-154).
- ``**`` as a whole segment matches ONE OR MORE whole segments. This is
  what the reference's iterative matcher implements (``**/file.txt``
  does not match a root-level ``file.txt`` — verified by the golden at
  mapreduce_test.go:431-503 where the ``**/file.txt`` job sees 2
  parents, not 3). Unlike the reference, ``**/**`` and ``**/foo/**``
  work (fixes the known-failure cases at glob_test.go:65-88).
- ``**`` mixed with other characters in one segment degrades to ``*``
  (same normalization as glob.go:150-151).

Two consumers:
- Planner-side: ``Filter.match`` / ``Filter.could_match`` for traversal
  pruning parity and tests (pure Python, driver-side only — never in a
  hot row loop).
- DataFrame-side: ``Filter.to_regex`` produces an anchored regex that
  each Job applies with ``rlike`` to the relative-path column of the
  shared scan (Java regex; we emit only portable constructs: character
  classes, ``[^/]``, non-capturing groups). The scan itself lists the
  whole root: there is no listing-time prune.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

RECURSIVE_WILDCARD = "**"
WILDCARD = "*"


class Filter:
    """Interface: a path predicate with subtree-pruning support."""

    def match(self, path: str) -> bool:  # pragma: no cover - interface
        raise NotImplementedError

    def could_match(self, path: str) -> bool:  # pragma: no cover - interface
        raise NotImplementedError

    def to_regex(self) -> str:
        """Anchored regex (Java/RE2-portable) equivalent to ``match``."""
        raise NotImplementedError


def _segment_regex(seg: str) -> str:
    """Regex for one glob segment (anchoring handled by caller)."""
    # '**' mixed with other chars degrades to '*' (reference normalization)
    seg = seg.replace(RECURSIVE_WILDCARD, WILDCARD)
    out = []
    for ch in seg:
        if ch == WILDCARD:
            out.append("[^/]*")
        else:
            out.append(re.escape(ch))
    return "".join(out)


@lru_cache(maxsize=4096)
def _compiled_segment(seg: str) -> re.Pattern:
    return re.compile(_segment_regex(seg) + r"\Z")


def _match_segments(
    fsegs: tuple[str, ...], psegs: tuple[str, ...], partial: bool
) -> bool:
    """Recursive matcher with memoization over (fi, pi) positions."""
    nf, np_ = len(fsegs), len(psegs)
    memo: dict[tuple[int, int], bool] = {}

    def go(fi: int, pi: int) -> bool:
        key = (fi, pi)
        if key in memo:
            return memo[key]
        if fi == nf:
            r = pi == np_
        elif pi == np_:
            # path exhausted, filter remains: a deeper path could match
            r = partial
        elif fsegs[fi] == RECURSIVE_WILDCARD:
            if partial:
                # any remaining filter could match under further recursion
                r = True
            else:
                # '**' consumes one or more segments
                r = go(fi + 1, pi + 1) or go(fi, pi + 1)
        else:
            r = bool(_compiled_segment(fsegs[fi]).match(psegs[pi])) and go(
                fi + 1, pi + 1
            )
        memo[key] = r
        return r

    return go(0, 0)


@dataclass(frozen=True)
class PathFilter(Filter):
    """Glob path filter, e.g. ``PathFilter("**/[*].json")``.

    Parity: /root/reference/glob.go:36-60 (Match/CouldMatch), with the
    quirk fixes documented in the module docstring.
    """

    pattern: str

    def _segs(self) -> tuple[str, ...]:
        return tuple(self.pattern.split("/"))

    def match(self, path: str) -> bool:
        return _match_segments(self._segs(), tuple(path.split("/")), partial=False)

    def could_match(self, path: str) -> bool:
        return _match_segments(self._segs(), tuple(path.split("/")), partial=True)

    def to_regex(self) -> str:
        parts: list[str] = []
        for seg in self._segs():
            if seg == RECURSIVE_WILDCARD:
                # one or more whole segments
                parts.append("[^/]+(?:/[^/]+)*")
            else:
                parts.append(_segment_regex(seg))
        return "^" + "/".join(parts) + "$"


@dataclass(frozen=True)
class MultiFilter(Filter):
    """OR-combination of filters (parity: /root/reference/glob.go:10-30)."""

    filters: tuple[Filter, ...]

    def __init__(self, *filters: Filter | str):
        object.__setattr__(
            self,
            "filters",
            tuple(PathFilter(f) if isinstance(f, str) else f for f in filters),
        )

    def match(self, path: str) -> bool:
        return any(f.match(path) for f in self.filters)

    def could_match(self, path: str) -> bool:
        return any(f.could_match(path) for f in self.filters)

    def to_regex(self) -> str:
        return "|".join(f"(?:{f.to_regex()})" for f in self.filters)


def as_filter(f: Filter | str | None) -> Filter | None:
    """Coerce a glob string into a PathFilter; pass Filters through."""
    if f is None or isinstance(f, Filter):
        return f
    return PathFilter(f)
