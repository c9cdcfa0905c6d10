"""Call-site bound tags for broadcast hints and window cliffs.

Spark honors an explicit ``F.broadcast()`` hint REGARDLESS of the
frame's size: a hint on a corpus-proportional frame is fast at every
measured SF and becomes a multi-GB broadcast and an OOM at 100×,
where dropping the hint would have let AQE pick the safe join. A
global ``Window.orderBy`` (or a ``partitionBy`` on a low-cardinality
key) puts a corpus-sized row set into ONE task. Every such site
therefore declares what bounds it, at the site itself, on its own line
or the comment line directly above:

    # bcast: <CLASS> <what bounds the broadcast side>
    # window: <CLASS> <note>

Broadcast classes:

  ONE-ROW   a global .agg() scalar frame (or a literal one-row df)
  GRID      bounded combination grid (segments × flags, ≤ ~10⁴ rows)
  CALENDAR  date/epoch spine — grows with TIME SPAN, not corpus size
  DIM       reference dimension (region/nation/supplier/part slice,
            fixed vocab files, codebooks; the note says which)
  TOPK      explicit .limit(k) / top-k result
  LITERAL   createDataFrame of driver-side literals
  BOUNDED   otherwise bounded — the note MUST state the bound

CORPUS is deliberately NOT a class: a corpus-proportional hint is
fixed by dropping it (AQE still broadcasts while the side is genuinely
small), never by tagging it.

Window classes: GRID / EPILOGUE / HIGH-CARD (input bounded or
corpus-safe), and REJECT — corpus-scaling, but the rewire onto
operators/prefix.py measured slower; the note cites that measurement
(BASELINE.md), so a REJECT note must say "measured".

A tag lives and dies with its line, so a rewritten site cannot leave a
stale entry behind and an untagged new site fails here on arrival.
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BCAST_CLASSES = {"ONE-ROW", "GRID", "CALENDAR", "DIM", "TOPK", "LITERAL", "BOUNDED"}
WINDOW_CLASSES = {"GRID", "EPILOGUE", "HIGH-CARD", "REJECT"}

#: Columns whose cardinality does NOT grow with the corpus — a window
#: partitioned on one of these over corpus-sized input is a task cliff.
LOW_CARD = (
    "prio",
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "c_mktsegment",
    "seg",
    "lang",
    "source",
    "event_type",
    "flag",
    "status",
    '"y"',
    '"g"',
    '"grp"',
    '"st"',
    '"b"',
)

_BCAST_RE = re.compile(r"F\.broadcast\(")
_TAG_RE = re.compile(r"#\s*(bcast|window):\s*(\S+)[ \t]*(.*)$")


def _is_window_site(line: str) -> bool:
    if re.search(r"Window\.orderBy\(", line):
        return True
    if re.search(r"Window\.partitionBy\(", line) and "orderBy" in line:
        m = re.search(r"partitionBy\(([^)]*)\)", line)
        return bool(m) and any(k in m.group(1) for k in LOW_CARD)
    return False


def _tag(lines: list[str], i: int, kind: str) -> tuple[str, str] | None:
    """The ``kind`` tag on line ``i`` itself or on the comment line
    directly above it."""
    candidates = [lines[i]]
    if i > 0 and lines[i - 1].lstrip().startswith("#"):
        candidates.append(lines[i - 1])
    for line in candidates:
        m = _TAG_RE.search(line)
        if m and m.group(1) == kind:
            return m.group(2), m.group(3).strip()
    return None


def iter_sites(lines: list[str], where: str):
    """Yield ``(kind, "where:lineno", line, tag)`` for every broadcast /
    window-cliff site in ``lines``; ``tag`` is ``(class, note)`` or
    None when the site is untagged."""
    for i, line in enumerate(lines):
        for kind, is_site in (
            ("bcast", bool(_BCAST_RE.search(line))),
            ("window", _is_window_site(line)),
        ):
            if is_site:
                yield kind, f"{where}:{i + 1}", line.strip(), _tag(lines, i, kind)


def tree_sites():
    """``iter_sites`` over every module under ``cds_etl_spark/``."""
    for path in sorted(
        glob.glob(os.path.join(ROOT, "cds_etl_spark", "**", "*.py"), recursive=True)
    ):
        with open(path) as fh:
            lines = fh.read().splitlines()
        yield from iter_sites(lines, os.path.relpath(path, ROOT))


def site_problems(sites) -> list[str]:
    """Every site in ``sites`` that lacks a valid tag, as
    ``where:lineno: reason`` strings."""
    problems = []
    for kind, at, line, tag in sites:
        classes = BCAST_CLASSES if kind == "bcast" else WINDOW_CLASSES
        if tag is None:
            problems.append(f"{at}: untagged {kind} site: {line}")
            continue
        cls, note = tag
        if cls not in classes:
            problems.append(f"{at}: {kind} class {cls!r} not in {sorted(classes)}")
        elif not note:
            problems.append(f"{at}: {kind} tag needs a note")
        elif cls == "REJECT" and "measured" not in note:
            problems.append(f"{at}: REJECT note must cite its measurement")
    return problems


def tag_problems(lines: list[str], where: str) -> list[str]:
    return site_problems(iter_sites(lines, where))


def test_every_site_is_tagged():
    problems = site_problems(tree_sites())
    assert not problems, (
        "Tag each site with `# bcast: <CLASS> <bound>` / `# window: <CLASS> "
        "<note>` on its line or the line above (classes: tests/"
        "test_site_tags.py docstring):\n" + "\n".join(problems)
    )


def test_untagged_hint_fails():
    (p,) = tag_problems(["x = a.crossJoin(F.broadcast(n))"], "f.py")
    assert "untagged bcast site" in p


def test_corpus_tag_fails():
    (p,) = tag_problems(
        ["# bcast: CORPUS per-document map", "x = a.join(F.broadcast(d), 'k')"],
        "f.py",
    )
    assert "'CORPUS' not in" in p


def test_untagged_window_site_fails():
    assert tag_problems(["w = Window.orderBy('d')"], "f.py")
    assert tag_problems(
        ["w = Window.partitionBy('lang').orderBy('lp')"], "f.py"
    )
    # A high-cardinality partition key is not a cliff candidate.
    assert not tag_problems(
        ["w = Window.partitionBy('doc_id').orderBy('pos')"], "f.py"
    )


def test_tagged_sites_pass():
    assert not tag_problems(
        [
            "# bcast: ONE-ROW global .agg() total",
            "x = a.crossJoin(F.broadcast(n))",
            "w = Window.orderBy('d')  # window: GRID 30-day grid",
            "# window: REJECT prefix rewire measured 2.0->3.5s (BASELINE r6)",
            "v = Window.orderBy('v')",
        ],
        "f.py",
    )
    # A tag only covers its own line and the one below it.
    assert tag_problems(
        ["# bcast: ONE-ROW total", "x = 1", "y = a.crossJoin(F.broadcast(n))"],
        "f.py",
    )
