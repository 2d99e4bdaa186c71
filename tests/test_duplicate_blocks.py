"""No block of code is written twice in the package.

A text scan, no Spark session. Every ``.py`` file under
``glamira_batch_processing_spark/`` is reduced to its code lines: blank
lines and ``#`` comment lines are dropped, and runs of whitespace become
one space. A window of ``WINDOW`` consecutive code lines holding at least
``MIN_CHARS`` characters that appears at two places (in one file or in
two) is a duplicate. Overlapping duplicate windows form one group, named
by the first line of its first window and the files it spans.

Each computation has one implementation: a repeated SQL fragment becomes
a module constant or builder (``operators/dedup.py::SQL_MINHASH_CTES``),
a repeated Spark preamble or tail a private function. A group that stays
on purpose goes on ``ALLOWED`` with its reason; the list holds at most
``MAX_ALLOWED`` entries, and an entry that no longer names a group fails
``test_allow_list_is_current``.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "glamira_batch_processing_spark"

WINDOW = 8
MIN_CHARS = 200
MAX_ALLOWED = 5

# Duplicate groups kept on purpose: group name (see ``duplicate_groups``)
# -> reason.
ALLOWED: dict[str, str] = {}


def _code_lines(path: Path) -> list[tuple[str, int]]:
    """(whitespace-normalized text, line number) of each code line."""
    out = []
    for no, line in enumerate(path.read_text().splitlines(), 1):
        text = " ".join(line.split())
        if text and not text.startswith("#"):
            out.append((text, no))
    return out


def duplicate_groups(root: Path = PACKAGE) -> dict[str, list[str]]:
    """Group name (``first line @ file, file``) -> ``file:line`` of each
    place the group's first window occurs."""
    lines = {p: _code_lines(p) for p in sorted(root.rglob("*.py"))}
    places = defaultdict(list)
    for path, rows in lines.items():
        for i in range(len(rows) - WINDOW + 1):
            key = tuple(text for text, _ in rows[i : i + WINDOW])
            if sum(map(len, key)) >= MIN_CHARS:
                places[key].append((path, i))
    dups = {key: locs for key, locs in places.items() if len(locs) > 1}
    # union the duplicate windows that follow one another at some place
    window_at = {loc: key for key, locs in dups.items() for loc in locs}
    parent = {key: key for key in dups}

    def find(key):
        while parent[key] != key:
            parent[key] = parent[parent[key]]
            key = parent[key]
        return key

    for (path, i), key in window_at.items():
        nxt = window_at.get((path, i + 1))
        if nxt is not None:
            parent[find(key)] = find(nxt)
    members = defaultdict(list)
    for key in dups:
        members[find(key)].append(key)
    groups = {}
    for keys in members.values():
        first = min(keys, key=lambda k: min((str(p), i) for p, i in dups[k]))
        where = sorted(dups[first])
        files = sorted({str(p.relative_to(root.parent)) for p, _ in where})
        groups[f"{first[0]} @ {', '.join(files)}"] = [
            f"{p.relative_to(root.parent)}:{lines[p][i][1]}" for p, i in where
        ]
    return groups


def test_no_duplicate_blocks():
    extra = {
        name: where for name, where in duplicate_groups().items() if name not in ALLOWED
    }
    assert not extra, (
        f"blocks of {WINDOW}+ code lines written twice (share one "
        "implementation, or add the group to ALLOWED with its reason):\n  "
        + "\n  ".join(f"{name!r} at {', '.join(where)}" for name, where in extra.items())
    )


def test_allow_list_is_current():
    assert len(ALLOWED) <= MAX_ALLOWED
    stale = sorted(set(ALLOWED) - set(duplicate_groups()))
    assert not stale, f"ALLOWED entries that name no duplicate group: {stale}"


def test_scan_finds_a_planted_copy(tmp_path):
    block = "\n".join(
        f"    value_{i} = compute_something_long(argument_{i}, other_{i})" for i in range(WINDOW)
    )
    (tmp_path / "a.py").write_text(f"def f():\n{block}\n")
    (tmp_path / "b.py").write_text(f"def g():\n    # a comment\n\n{block}\n")
    (tmp_path / "c.py").write_text("def h():\n    return 1\n")
    d = tmp_path.name
    assert duplicate_groups(tmp_path) == {
        f"value_0 = compute_something_long(argument_0, other_0) @ {d}/a.py, {d}/b.py": [
            f"{d}/a.py:2",
            f"{d}/b.py:4",
        ]
    }
