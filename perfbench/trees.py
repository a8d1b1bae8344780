"""Seeded file-tree generator for the engine workload.

The generator returns a ``Tree``: the files as ``{relative path:
bytes}`` plus every job's expected result, computed here in plain
Python from the same bytes. The same seed always gives a byte-identical
tree (``Tree.digest`` proves it); the program under test only ever
sees the files written to disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

# engine_shared_scan: 8 top folders x 10 subfolders. Each subfolder
# holds integer text files and one-record JSON files, half of them in a
# ``j/`` folder below it; every top folder and subfolder has a
# ``meta.json`` directory file.
SHARED_TOP = 8
SHARED_SUB = 10
SHARED_TXT = 4
SHARED_JSON = 4
SHARED_LINES = 50


@dataclass
class Tree:
    files: dict[str, bytes]
    expected: dict[str, object] = field(default_factory=dict)

    @property
    def digest(self) -> str:
        h = hashlib.sha256()
        for path in sorted(self.files):
            h.update(path.encode() + b"\0" + self.files[path] + b"\0")
        return h.hexdigest()

    def write(self, root: str) -> None:
        for path, data in self.files.items():
            full = os.path.join(root, path)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(data)


def _parents(files: dict[str, bytes], path: str, is_dir_file) -> list[int]:
    """Root-first ``w`` of the directory files in strict ancestor
    folders of ``path`` (a folder's own directory file is not applied
    to the files beside it)."""
    folders = path.split("/")[:-1]
    out = []
    for depth in range(len(folders)):
        # directory files of folder folders[:depth] apply to files in
        # its subfolders, i.e. at depth > depth
        meta = "/".join(folders[:depth] + ["meta.json"]) if depth else "meta.json"
        if meta in files and is_dir_file(meta):
            out.append(json.loads(files[meta])["w"])
    return out


def shared_scan_tree(seed: int) -> Tree:
    rng = random.Random(seed)
    files: dict[str, bytes] = {}
    for a in range(SHARED_TOP):
        top = f"a{a}"
        files[f"{top}/meta.json"] = json.dumps({"w": rng.randint(1, 9)}).encode()
        for b in range(SHARED_SUB):
            sub = f"{top}/b{b}"
            files[f"{sub}/meta.json"] = json.dumps({"w": rng.randint(1, 9)}).encode()
            for i in range(SHARED_TXT):
                nums = [rng.randrange(1_000_000) for _ in range(SHARED_LINES)]
                files[f"{sub}/t{i}.txt"] = "\n".join(map(str, nums)).encode()
            for i in range(SHARED_JSON):
                rec = {"id": rng.randrange(1 << 40), "v": rng.randrange(1000)}
                # half beside the subfolder's meta.json, which must not
                # apply to them, and half one level below it
                folder = sub if i % 2 else f"{sub}/j"
                files[f"{folder}/r{i}.json"] = json.dumps(rec).encode()

    def ints(path):
        return [int(x) for x in files[path].decode().split("\n")]

    txt = sorted(p for p in files if p.endswith(".txt"))
    records = sorted(p for p in files if p.endswith(".json") and "/r" in p)

    def weighted(is_dir_file):
        by_top: dict[str, int] = {}
        for p in records:
            w = sum(_parents(files, p, is_dir_file))
            top = p.split("/")[0]
            by_top[top] = by_top.get(top, 0) + json.loads(files[p])["v"] * w
        return by_top

    # top folder -> (rows, sum) of the */b0/*.txt integers written out
    b0_written: dict[str, tuple[int, int]] = {}
    for p in txt:
        top, sub = p.split("/")[:2]
        if sub == "b0":
            n, total = b0_written.get(top, (0, 0))
            b0_written[top] = (n + len(ints(p)), total + sum(ints(p)))

    expected = {
        "txt_lines": sum(len(ints(p)) for p in txt),
        "txt_sum": sum(sum(ints(p)) for p in txt),
        "a1_bytes": sum(len(d) for p, d in files.items() if p.startswith("a1/")),
        "b0_files": sum(1 for p in files if p.split("/")[1:2] == ["b0"]
                        and p.count("/") == 2),
        # **/meta.json: every meta at depth >= 1; */meta.json: top only
        "parents_deep": weighted(lambda m: m.count("/") >= 1),
        "parents_top": weighted(lambda m: m.count("/") == 1),
        "ordered_b1": sorted(v for p in txt if p.split("/")[1] == "b1" for v in ints(p)),
        "b0_written": b0_written,
        "all_files": len(files),
    }
    return Tree(files, expected)
